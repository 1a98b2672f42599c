package graft.bench

import scala.io.Source

import graft.ml.{Dedup, Index, LexIndex, Retrieval, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, min}

/** The training-data side: deduplicate a document corpus, build the
  * lexical, IVF and IVF-PQ stores over it, run a seeded script of appends,
  * deletes and small serve batches against all three, then compact,
  * maintain and serve once more. No trend code runs here.
  */
object CorpusStore {
  val Layers = Seq("ml.dedup", "ml.lex.save", "ml.lex.append", "ml.lex.delete",
    "ml.lex.compact", "ml.lex.serve", "ml.index.save", "ml.index.append",
    "ml.index.delete", "ml.index.compact", "ml.index.serve", "ml.hybrid.serve",
    "ml.maintain")
  val K = 10
  /** Queries per serve call. */
  val ServeBatch = 4
  /** Bucket grid of the lexical store, sized to the corpus rather than to
    * `LexIndex.autoBuckets`' floor of 64.
    */
  val LexBuckets = 16
  /** Script steps of every run: an append, a serve and a delete. */
  val MinSteps = 3
  /** Script steps the traced run and its untraced twin execute. */
  val TracedSteps = MinSteps

  final class Stores(c: Ctx, dir: String, docs: DataFrame, emb: DataFrame,
                     pool: (DataFrame, DataFrame), queries: (DataFrame, DataFrame),
                     deletes: Seq[Long], appendBatch: Int, deleteBatch: Int) {
    private val spark = c.spark
    /** The tracer of the current pass (the traced pass swaps it in). */
    private val t = () => c.tracer
    val lex = s"$dir/lex"
    val ivf = s"$dir/ivf"
    val pq = s"$dir/ivfpq"
    val poolLo: Long = pool._1.agg(min("doc_id")).head().getLong(0)
    val poolSize: Long = pool._1.count()
    var kept = Array.empty[Long]
    val appended = collection.mutable.ArrayBuffer.empty[Long]
    val deleted = collection.mutable.ArrayBuffer.empty[Long]
    var steps = 0
    var records = 0L
    var lexAction = ""
    private var nAppend = 0
    private var nDelete = 0
    private var nServe = 0

    private def op(kind: String, name: String)(body: => Any): Unit = {
      c.op(kind, name)(body)
      c.cleanup()
    }

    def build(kind: String): Unit = {
      op(kind, "dedup") {
        val dropped = t().span("ml.dedup") {
          Dedup.minHashLsh(docs).select("doc_b").distinct().collect().map(_.getLong(0))
        }
        kept = docs.select("doc_id").collect().map(_.getLong(0)).diff(dropped).sorted
      }
      val keptDocs = docs.where(col("doc_id").isin(kept.toSeq: _*))
      val keptEmb = emb.where(col("vec_id").isin(kept.toSeq: _*))
      op(kind, "lex.save")(t().span("ml.lex.save")(
        LexIndex.saveLexical(keptDocs, lex, nBuckets = LexBuckets)))
      op(kind, "ivf.save")(t().span("ml.index.save")(Index.saveIvf(keptEmb, ivf)))
      op(kind, "ivfpq.save")(t().span("ml.index.save")(Index.saveIvfPq(keptEmb, pq)))
      records += docs.count()
    }

    def canAppend: Boolean = (nAppend + 1) * appendBatch <= poolSize
    def canDelete: Boolean = (nDelete + 1) * deleteBatch <= deletes.size

    /** One script step: append, serve, delete, serve, and around again.
      * Under `mode` "script" ops are classed write or serve; otherwise
      * every op is classed `mode`.
      */
    def step(mode: String): Unit = {
      def kind(cls: String): String = if (mode == "script") cls else mode
      steps % 4 match {
        case 0 if canAppend =>
          val lo = poolLo + nAppend.toLong * appendBatch
          val ids = lo until lo + appendBatch
          val d = pool._1.where(col("doc_id").between(lo, lo + appendBatch - 1))
          val e = pool._2.where(col("vec_id").between(lo, lo + appendBatch - 1))
          op(kind("write"), "lex.append")(t().span("ml.lex.append")(
            LexIndex.appendLexical(spark, lex, d)))
          op(kind("write"), "ivf.append")(t().span("ml.index.append")(
            Index.appendIvf(spark, ivf, e)))
          op(kind("write"), "ivfpq.append")(t().span("ml.index.append")(
            Index.appendIvfPq(spark, pq, e)))
          appended ++= ids
          records += appendBatch
          nAppend += 1
        case 2 if canDelete =>
          val ids = deletes.slice(nDelete * deleteBatch, (nDelete + 1) * deleteBatch)
          import spark.implicits._
          val df = ids.toDF("doc_id")
          op(kind("write"), "lex.delete")(t().span("ml.lex.delete")(
            LexIndex.deleteDocs(spark, lex, df)))
          op(kind("write"), "ivf.delete")(t().span("ml.index.delete")(
            Index.delete(spark, ivf, df.withColumnRenamed("doc_id", "vec_id"))))
          op(kind("write"), "ivfpq.delete")(t().span("ml.index.delete")(
            Index.delete(spark, pq, df.withColumnRenamed("doc_id", "vec_id"))))
          deleted ++= ids
          records += deleteBatch
          nDelete += 1
        case _ => serve(kind("serve"))
      }
      steps += 1
    }

    val nQueries: Long = queries._1.count()

    def queryBatch(n: Int): (DataFrame, DataFrame) = {
      val lo = (nServe * ServeBatch) % nQueries
      nServe += 1
      (queries._1.where(col("doc_id").between(lo, lo + n - 1)),
        queries._2.where(col("vec_id").between(lo, lo + n - 1)))
    }

    /** BM25, ANN (IVF flat and IVF-PQ in turn) and hybrid over one batch. */
    def serve(kind: String): Unit = {
      val flat = nServe % 2 == 0
      val (qd, qe) = queryBatch(ServeBatch)
      op(kind, "bm25")(t().span("ml.lex.serve")(
        LexIndex.bm25TopKIndexed(spark, lex, qd, K).collect()))
      if (flat) op(kind, "ivf")(t().span("ml.index.serve")(
        Index.ivfTopKIndexed(spark, ivf, qe, K).collect()))
      else op(kind, "ivfpq")(t().span("ml.index.serve")(
        Index.ivfPqTopKIndexed(spark, pq, qe, K).collect()))
      op(kind, "hybrid")(t().span("ml.hybrid.serve")(
        Retrieval.hybridRrfIndexed(spark, lex, ivf, qd, qe, K).collect()))
      records += 3L * ServeBatch
    }

    def maintain(kind: String): Unit = {
      op(kind, "lex.compact")(t().span("ml.lex.compact")(LexIndex.compactLexical(spark, lex)))
      op(kind, "ivf.compact")(t().span("ml.index.compact")(Index.compact(spark, ivf)))
      op(kind, "ivfpq.compact")(t().span("ml.index.compact")(Index.compact(spark, pq)))
      op(kind, "ivf.maintain")(t().span("ml.maintain")(Index.maintain(spark, ivf)))
      op(kind, "lex.maintain")(t().span("ml.maintain") {
        lexAction = LexIndex.maintain(spark, lex)
      })
    }

    /** The final serve over every query, written for the output gate. */
    def finalServe(kind: String): Unit = {
      op(kind, "bm25")(t().span("ml.lex.serve")(
        LexIndex.bm25TopKIndexed(spark, lex, queries._1, K)
          .write.mode("overwrite").parquet(c.out("bm25"))))
      op(kind, "ivf")(t().span("ml.index.serve")(
        Index.ivfTopKIndexed(spark, ivf, queries._2, K)
          .write.mode("overwrite").parquet(c.out("ivf"))))
      records += 2L * nQueries
    }

    def live: Array[Long] = (kept ++ appended).diff(deleted)
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    def pq(name: String) = spark.read.parquet(s"${c.input}/$name.parquet")
    val deletes = Source.fromFile(s"${c.input}/deletes.txt").getLines().map(_.toLong).toSeq
    val appendBatch = 60
    val deleteBatch = 30
    val queries = (pq("queries_docs"), pq("queries_emb"))
    val pool = (pq("pool_docs"), pq("pool_emb"))
    def stores(dir: String, docs: DataFrame, emb: DataFrame) =
      new Stores(c, dir, docs, emb, pool, queries, deletes, appendBatch, deleteBatch)

    Harness.write(s"${c.work}/oracle-store.json", Json(Map(
      "bm25" -> LexIndex.bm25FrozenOracleSql(s"doc_id < ${queries._1.count()}",
        "doc_id IN (SELECT doc_id FROM base_ids)", K,
        liveWhereSql = "doc_id IN (SELECT doc_id FROM live_ids)"))))
    val base = (pq("base_docs"), pq("base_emb"))

    // the traced pass runs the same fixed script first; the untraced pass
    // after it runs in a warmer JVM, so trace_overhead_s leans high
    var tracedMs = 0.0
    if (c.trace) {
      val t = c.startTrace("traced")
      val tr = stores(s"${c.work}/stores-traced", base._1, base._2)
      val t1 = System.nanoTime()
      t.span("iteration") {
        tr.build("traced")
        while (tr.steps < TracedSteps) tr.step("traced")
        tr.maintain("traced")
        tr.finalServe("traced")
      }
      tracedMs = (System.nanoTime() - t1) / 1e6
      c.summarizeSpans(t, Layers)
      for ((name, dirs) <- Seq("lex" -> Seq(tr.lex), "index" -> Seq(tr.ivf, tr.pq))) {
        val du = dirs.map(Harness.du)
        val bytes = du.map(_._1).sum
        c.layers(s"ml.$name.store_bytes") = bytes.toDouble
        c.layers(s"ml.$name.store_files") = du.map(_._2).sum.toDouble
        val serves = t.all.count(_.name == s"ml.$name.serve")
        c.layers(s"ml.$name.serve.read_frac") =
          c.layers(s"ml.$name.serve.input_bytes") / math.max(1, serves) / math.max(1L, bytes)
      }
      c.tracer = c.untraced
    }

    val s = stores(s"${c.work}/stores", base._1, base._2)
    val t0 = System.nanoTime()
    s.build("build")
    // build and script share the first 60% of the run; compaction,
    // maintenance and the final serve follow
    val deadline = t0 + (c.seconds * 0.6 * 1e9).toLong
    while ((s.canAppend || s.canDelete) && (if (c.trace) s.steps < TracedSteps
        else s.steps < MinSteps || System.nanoTime() < deadline)) s.step("script")
    s.maintain("maintain")
    s.finalServe("serve")
    val wallMs = (System.nanoTime() - t0) / 1e6
    if (c.trace) c.addOverhead((tracedMs - wallMs) / 1000.0)
    c.info("wall_ms") = wallMs
    c.info("records") = s.records
    c.info("steps") = s.steps
    c.info("lex_action") = s.lexAction
    c.info("stored_bytes") = Seq(s.lex, s.ivf, s.pq).map(Harness.du(_)._1).sum
    def bytes(name: String): Long = Harness.du(s"${c.input}/$name.parquet")._1
    c.info("input_bytes_consumed") = bytes("base_docs") + bytes("base_emb") +
      s.appended.size.toDouble / s.poolSize * (bytes("pool_docs") + bytes("pool_emb"))
    if (!c.trace) recall(c, s) // an end-to-end metric, not reported when traced
    Harness.write(c.out("ids.json"), Json(Map("kept" -> s.kept.toSeq,
      "appended" -> s.appended.toSeq, "deleted" -> s.deleted.toSeq,
      "lex_action" -> s.lexAction)))
  }

  /** recall@10 of the final IVF serve against exact top-10 over the live
    * set, from `Similarity.bruteForceTopK` (outside every timed region).
    */
  private def recall(c: Ctx, s: Stores): Unit = {
    val spark = c.spark
    val qe = spark.read.parquet(s"${c.input}/queries_emb.parquet")
    val liveIds = s.live.toSeq
    val liveEmb = spark.read.parquet(s"${c.input}/base_emb.parquet")
      .union(spark.read.parquet(s"${c.input}/pool_emb.parquet"))
      .where(col("vec_id").isin(liveIds: _*))
    val nq = qe.count().toInt
    // queries carry the lowest ids; asking for K + nq neighbors and
    // dropping the other queries leaves the exact top-K over the live set
    val exact = Similarity.bruteForceTopK(liveEmb.union(qe), col("vec_id") < nq, K + nq)
      .where(col("neighbor_id") >= nq)
      .select("query_id", "neighbor_id", "rank")
      .collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(_.getInt(2)).take(K).map(_.getLong(1)).toSet }
    val ann = spark.read.parquet(c.out("ivf")).select("query_id", "neighbor_id")
      .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = exact.map { case (q, ex) => (ex intersect ann.getOrElse(q, Set.empty)).size }.sum
    c.info("ann_recall_at_10") = hits.toDouble / (K * exact.size)
    c.cleanup()
  }
}
