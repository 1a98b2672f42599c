package graft.ml

import graft.functions.{VecFold, VecQuant}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted ANN indexes: build ONCE, serve every later query batch from
  * the stored layout. [[Similarity.ivfTopK]] (and the PQ family) rebuild
  * the coarse index inline per call — the right shape for a one-shot
  * analytical query, the wrong one for a deployment: at corpus scale the
  * assignment pass over n vectors dominates every call, and a 100-TB
  * corpus cannot re-normalize and re-assign per query batch. This is the
  * same build-once contract the trend library applies to its WDT
  * template library (`trend/Wdt.scala` save/load) and binned intermediates
  * (`Tables.saveBinned`), extended to the vector-index surface.
  *
  * On-disk layout (all parquet under `path/`):
  *   - `centroids/` (cid, cv array<double>, cn): the deterministic seed
  *     centroids — O(nCells·dim), broadcast at query time.
  *   - `postings/`  (vec_id, v, norm) PARTITIONED BY cell: the assigned
  *     corpus. Partitioning by cell is the scale decision — a query
  *     batch probing P distinct cells reads exactly those P directories
  *     (static partition pruning via the collected probe list; the probe
  *     list is bounded by nq·nProbe, query-side cardinality, never
  *     corpus-side).
  *   - `pq_codes/`  (vec_id, sub, code) PARTITIONED BY cell: the
  *     compressed twin — 8 int64 codes per vector instead of 64 doubles,
  *     so the serving scan touches ~6% of the flat postings bytes and
  *     never reads a raw vector at all.
  *   - `codewords/` (sub, code, cw): the PQ codebook — nSub·nCode rows.
  *
  * Query-side coarse ranking is the exact FLAT scan over the stored
  * centroids: per query it costs O(nCells·dim), and at serving time
  * nq ≪ n, so the two-level super-quantizer — a BUILD-side device that
  * caps the n·nCells assignment pass — would buy nothing and cost probe
  * quality. Consequence: results are bit-identical to the inline
  * operators wherever the inline assignment is flat (every oracle-floor
  * corpus — the registered `ann_ivf_persisted` / `ann_ivfpq_persisted`
  * rows hash-match the SAME DuckDB oracle as their inline twins); at
  * two-level scale the stored assignment IS the inline assignment (the
  * same [[Similarity.withCellRanks]] pass, persisted), so divergence is
  * confined to query probe sets and is measured by the
  * [[Similarity.ivfAssignAgreement]] convention.
  */
object Index {

  private def centroidsPath(path: String) = s"$path/centroids"
  private def codewordsPath(path: String) = s"$path/codewords"

  /** The two compactable data families; everything else in a store
    * (centroids, codewords) is written once at build and never rewritten.
    */
  private[graft] val PostingsKind = "postings"
  private[graft] val PqCodesKind = "pq_codes"
  private[graft] val SqCodesKind = "sq_codes"
  private[graft] val MrlCodesKind = "mrl_codes"

  /** The build-artifact families a REBUILD replaces alongside the data
    * kinds. Versioned like the data kinds so a reader-safe rebuild can
    * publish fresh quantizers without deleting the generation a
    * pre-planned serve still holds file references into.
    */
  private[graft] val CentroidsKind = "centroids"
  private[graft] val CodewordsKind = "codewords"
  // "terms" is the LEXICAL store's second data family ([[LexIndex]]);
  // it shares this generation machinery, so the staged-rebuild publish
  // lists it too (a dense store simply never stages one)
  private val AllKinds =
    Seq(CentroidsKind, CodewordsKind, PostingsKind, PqCodesKind, SqCodesKind,
      MrlCodesKind, LexIndex.TermsKind)

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Version number of a data directory: the build writes the flat
    * `postings/` (version 0); every compaction publishes `postings_v<n>`.
    */
  private def versionOf(kind: String, name: String): Option[Int] =
    if (name == kind) Some(0)
    else if (name.startsWith(s"${kind}_v"))
      scala.util.Try(name.stripPrefix(s"${kind}_v").toInt).toOption
    else None

  /** All on-disk generations of `kind` under the store, committed or not,
    * as (version, path) — version 0 is the flat build directory.
    */
  private[graft] def generations(spark: SparkSession, path: String, kind: String)
      : Seq[(Int, org.apache.hadoop.fs.Path)] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .flatMap(st => versionOf(kind, st.getPath.getName).map(_ -> st.getPath))
  }

  private def isCommitted(spark: SparkSession,
                          p: org.apache.hadoop.fs.Path): Boolean = {
    val fs = fsOf(spark, p)
    // the flat build dir (v0) is committed by construction: save/append
    // write it directly and a reader only ever exists after a build.
    // Versioned dirs are committed by their _SUCCESS marker — compact's
    // atomic publish point (single-file create) — OR by a store-level
    // `commit_v<n>` marker: [[rebuild]] replaces EVERY kind in one
    // logical flip, so its generations carry no per-dir marker and
    // become live together the instant the one store-level file exists
    // (per-dir markers would expose a window where a plan mixes new
    // centroids with old postings — garbage probes, not stale data).
    if (!p.getName.contains("_v")) true
    else if (fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) true
    else {
      val name = p.getName
      val ver = name.substring(name.lastIndexOf("_v") + 2)
      fs.exists(new org.apache.hadoop.fs.Path(p.getParent, s"commit_v$ver"))
    }
  }

  /** Resolve the LIVE data directory for `kind`: the highest COMMITTED
    * generation. This is the crash-safety contract: a compaction that
    * died mid-write left an uncommitted `_v<n>` directory that no reader
    * ever selects, and the previous generation — still on disk — stays
    * live. Readers, appends, and stats all resolve through here.
    */
  private[graft] def liveDir(spark: SparkSession, path: String,
                             kind: String): String = {
    val committed = generations(spark, path, kind)
      .filter { case (_, p) => isCommitted(spark, p) }
    if (committed.isEmpty) s"$path/$kind" // fresh store: the build target
    else committed.maxBy(_._1)._2.toString
  }

  private def metaPath(path: String) = s"$path/meta"
  private def ivfMetaPath(path: String) = s"$path/ivf_meta"
  private def sqMetaPath(path: String) = s"$path/sq_meta"
  private def mrlMetaPath(path: String) = s"$path/mrl_meta"

  /** LIVE quantizer directories — every read resolves through the
    * generation machinery (a rebuilt store's quantizers live in
    * `centroids_v<n>`; a never-rebuilt store falls through to the flat
    * build dir). Writes keep targeting the flat paths: a fresh build IS
    * generation 0, and [[rebuild]] renames its staged output into a
    * versioned dir instead of writing one directly.
    */
  private def centroidsDir(spark: SparkSession, path: String): String =
    liveDir(spark, path, CentroidsKind)
  private def codewordsDir(spark: SparkSession, path: String): String =
    liveDir(spark, path, CodewordsKind)

  /** Whether the store's PQ codes are residual-coded ([[saveIvfPq]]
    * `residual`); stores written before the marker existed are absolute.
    */
  private[graft] def isResidual(spark: SparkSession, path: String): Boolean =
    buildMetaOf(new Markers(spark, path).pq).residual

  /** A store's build configuration, read back from its marker table —
    * what [[rebuild]] must re-invoke the save with. Markers written
    * before a column existed fall back to that column's historical
    * default (those stores WERE built with the default).
    */
  private case class BuildMeta(residual: Boolean, trained: Boolean,
                               nSub: Int, nCode: Int, trainIters: Int,
                               flat: Boolean)

  /** The marker table's one row + column set, from ONE parquet read and
    * ONE collect job. The naive shape (separate `.select(name).head()`
    * per field, plus a second `spark.read` wherever the caller also
    * needs `.columns`) costs up to 7 footer-reads/jobs per metadata
    * probe — per-op marker reads measurably dominated the round-14
    * store-lifecycle queries (1.5-1.8× slowdown, VERDICT r14), and at
    * S3 scale every one is a small-object round-trip.
    */
  private def readMetaRow(spark: SparkSession, dir: String)
      : Option[(Set[String], org.apache.spark.sql.Row)] = {
    val mp = new org.apache.hadoop.fs.Path(dir)
    if (!fsOf(spark, mp).exists(mp)) None
    else {
      val df = spark.read.parquet(dir)
      Some((df.columns.toSet, df.head()))
    }
  }

  private def buildMetaOf(meta: Option[(Set[String],
                                        org.apache.spark.sql.Row)]): BuildMeta =
    meta match {
      case None => BuildMeta(false, false, 8, 16, 3, false)
      case Some((cols, row)) =>
        def get[T](name: String, dflt: T)(f: Int => T): T =
          if (cols.contains(name)) f(row.fieldIndex(name)) else dflt
        BuildMeta(
          get("residual", false)(row.getBoolean),
          get("trained", false)(row.getBoolean),
          get("n_sub", 8)(row.getInt),
          get("n_code", 16)(row.getInt),
          get("train_iters", 3)(row.getInt),
          get("flat", false)(row.getBoolean))
    }

  /** A store's marker rows, each read at most once per operation and only
    * when first asked for: geometry ownership, the per-flavor coding
    * resolvers ([[pqOf]], [[sqOf]], [[mrlOf]]) and [[stagedRebuild]] all
    * read through one instance, so an append whose flavor owns the
    * geometry marker pays for that marker once.
    */
  private final class Markers(spark: SparkSession, val path: String) {
    lazy val pq = readMetaRow(spark, metaPath(path))
    lazy val sq = readMetaRow(spark, sqMetaPath(path))
    lazy val ivf = readMetaRow(spark, ivfMetaPath(path))
    lazy val mrl = readMetaRow(spark, mrlMetaPath(path))
  }

  /** The build config of the marker owning the store's coarse geometry
    * — ownership mirrors [[rebuild]]'s: the PQ marker if present, else
    * SQ, else IVF. Its `flat` is the recorded assignment mode — flat
    * (`forceFlat` build) or two-level past [[Similarity.twoLevelMinCells]].
    * Appends must route arriving vectors the way the build routed the
    * corpus: a flat-built 400-cell store whose appends route two-level
    * parks vectors in cells the flat query probe never reads (whole
    * families off-macro — measured recall 0.0 on the 1000× family
    * fixture, SCALING.md). Read through `m`, so the owning flavor's
    * coding resolver reuses the same row.
    */
  private def geometryMarker(spark: SparkSession, m: Markers): BuildMeta = {
    val meta = m.pq.orElse(m.sq).orElse(m.ivf)
    // LEGACY-STORE migration warning: markers written before the `flat`
    // column record nothing about the assignment mode, so this defaults
    // to two-level — which is only WRONG if the store was flat-built
    // AND is past the two-level activation threshold (below it the two
    // modes coincide). A flat-built 400-cell legacy store whose appends
    // route two-level parks vectors in cells the flat probe never reads
    // (recall 0.0 on the 1000× family fixture) — warn once per touch so
    // the operator rebuilds (a rebuild stamps the column; note it also
    // permanently converts the store to two-level geometry unless the
    // rebuild is re-run with forceFlat via a fresh save).
    if (meta.exists(!_._1.contains("flat")) &&
        spark.read.parquet(centroidsDir(spark, m.path)).count() >=
          Similarity.twoLevelMinCells)
      System.err.println(s"[graft.Index] WARNING: store at ${m.path} predates " +
        "the `flat` assignment-mode marker and has enough cells for " +
        "two-level routing — if it was built forceFlat = true, appends " +
        "and rebuilds will route two-level and miss the flat probe set " +
        "(recall collapse). Rebuild the store to stamp its mode.")
    buildMetaOf(meta)
  }

  /** Whether the store has a committed generation of `kind`. */
  private def hasLive(spark: SparkSession, path: String,
                      kind: String): Boolean =
    generations(spark, path, kind).exists { case (_, p) => isCommitted(spark, p) }

  /** The data kind store-wide reads (stats, deletes, maintenance) resolve
    * through: the raw postings if present, else the PQ codes, else SQ.
    */
  private def primaryKind(spark: SparkSession, path: String): Option[String] =
    Seq(PostingsKind, PqCodesKind, SqCodesKind).find(hasLive(spark, path, _))

  /** The non-metadata columns of each store flavor — everything else in a
    * stored schema is caller metadata persisted via `metaCols`.
    */
  private val postingsCore = Set("vec_id", "v", "norm", "cell", "ins_seq")
  private val pqCodesCore = Set("vec_id", "sub", "code", "cell", "ins_seq")
  private val sqCodesCore = Set("vec_id", "qb", "r", "cell", "ins_seq")
  private val mrlCodesCore = Set("vec_id", "vp", "vpn", "cell", "ins_seq")

  /** The metadata columns a store was BUILT with, read from its parquet
    * schema (footer-only, no data scan). Appends derive their effective
    * metaCols from this instead of trusting the caller: an append that
    * omitted a build-time metadata column would write rows that read back
    * with null metadata, which a filtered serve silently never matches —
    * an operational trap, so the mismatch fails loudly at append time.
    */
  private[graft] def storedMetaCols(spark: SparkSession, dir: String,
                             core: Set[String]): Seq[String] =
    // mergeSchema: on a legacy mixed-schema store (pre-validation appends
    // that omitted metaCols) the UNION schema must decide the stored
    // metadata set — a single sampled footer could miss a metadata column
    // and wave through exactly the unfilterable append this check exists
    // to reject (compactKind reads with mergeSchema for the same reason)
    spark.read.option("mergeSchema", "true").parquet(dir)
      .schema.map(_.name).filterNot(core.contains)

  /** Validates + derives the effective metadata columns for an append:
    * the STORE's metadata set wins; the incoming batch must carry every
    * stored metadata column, and a caller-specified `metaCols` must match
    * the stored set exactly (passing extras the store lacks would fork
    * the on-disk schema).
    */
  private[graft] def appendMetaCols(spark: SparkSession, dir: String,
                             core: Set[String], newEmb: DataFrame,
                             callerMeta: Seq[String]): Seq[String] = {
    val stored = storedMetaCols(spark, dir, core)
    require(callerMeta.isEmpty || callerMeta.toSet == stored.toSet,
      s"append: metaCols ${callerMeta.mkString("[", ",", "]")} does not match " +
        s"the store's metadata columns ${stored.mkString("[", ",", "]")} — " +
        "appending with mismatched metadata would write rows a filtered " +
        "serve silently never matches")
    val missing = stored.filterNot(newEmb.columns.contains)
    require(missing.isEmpty,
      s"append: incoming batch lacks the store's metadata column(s) " +
        s"${missing.mkString(", ")} — the store was built with " +
        s"metaCols = ${stored.mkString("[", ",", "]")}")
    stored
  }

  /** Coarse centroids resolved once per write, driver-side:
    * (cid, cv, cn) in cid order — the assignment's ranking table and the
    * residual coders' subtrahend.
    */
  private type Cents = Array[(Long, Array[Double], Double)]

  /** A dense flavor's codec — the ONE step that differs between store
    * flavors on either path: how assigned rows (vec_id, v, norm, cell)
    * become the stored rows of its data kind ([[encode]]), and how those
    * rows score against a query batch ([[scoreKernel]]). Everything around
    * it is shared: centroid resolution, assignment, metadata join-back,
    * the seq stamp and the cell-partitioned write on the write side
    * ([[buildStore]], [[appendStore]]); probe, candidate scan, top-k and
    * refine on the read side ([[serve]]).
    */
  private sealed abstract class Enc(val kind: String, val core: Set[String])
  /** The raw flavor: the assignment itself. */
  private case object Raw extends Enc(PostingsKind, postingsCore)
  /** PQ codes against `codebook` (sub, code, cw); `residual` codes
    * x − c[cell] instead of x. `markedSubs` is the marker's recorded
    * subspace count; a store without one (legacy) pays one distinct
    * count over the codebook, and only when a serve asks — trusting the
    * default would silently mis-slice subvectors on a non-default legacy
    * store (ADVICE r15).
    */
  private final case class Pq(codebook: DataFrame, residual: Boolean,
                              markedSubs: Option[Int] = None)
      extends Enc(PqCodesKind, pqCodesCore) {
    lazy val nSub: Int =
      markedSubs.getOrElse(codebook.select("sub").distinct().count().toInt)
  }
  /** Per-vector int8 codes of x, or of x − c[cell] when `residual`. */
  private final case class Sq(residual: Boolean)
      extends Enc(SqCodesKind, sqCodesCore)
  /** The first-`dims` prefix, raw or int8-quantized — the MRL store's
    * recorded build shape ([[mrlOf]]).
    */
  private final case class Mrl(dims: Int, quantized: Boolean)
      extends Enc(MrlCodesKind, if (quantized) sqCodesCore else mrlCodesCore)

  /** The per-flavor coding resolvers every serve, append and
    * [[stagedRebuild]] call: each reads only its own flavor's marker
    * (through `m`), so the raw flavor's paths read none.
    *   - PQ: the residual flag and subspace count of the `meta` marker,
    *     coding against `codebook` (the live one, or a rebuild's fresh
    *     one); a store without a marker predates residual coding.
    *   - SQ: the residual flag of `sq_meta` (absolute when absent).
    *   - MRL: prefix width + whether the prefix is int8-quantized, from
    *     `mrl_meta`; markers written before `quantized` are raw-prefix.
    */
  private def pqOf(m: Markers, codebook: DataFrame): Pq = {
    val meta = buildMetaOf(m.pq)
    Pq(codebook, meta.residual,
      m.pq.filter(_._1.contains("n_sub")).map(_ => meta.nSub))
  }

  private def sqOf(m: Markers): Sq = Sq(buildMetaOf(m.sq).residual)

  private def mrlOf(m: Markers): Mrl = m.mrl match {
    case None => throw new IllegalArgumentException(
      s"no MRL marker at ${mrlMetaPath(m.path)} — not an MRL store")
    case Some((cols, row)) =>
      Mrl(row.getInt(row.fieldIndex("prefix_dims")),
        cols.contains("quantized") &&
          row.getBoolean(row.fieldIndex("quantized")))
  }

  /** Assign rows to cells: rank each normed vector against the resolved
    * centroids ([[Similarity.ivfAssign]] semantics — two-level past the
    * activation threshold unless the store is `flat`) and keep its first
    * cell: (vec_id, v, norm, cell). Builds and appends share it, so an
    * append against frozen centroids routes exactly like the build.
    */
  private def assign(emb: DataFrame, cents: Cents, flat: Boolean,
                     superProbe: Int): DataFrame =
    Similarity.withCellRanks(Similarity.normed(emb), cents.length, 1,
      twoLevelMin = if (flat) Int.MaxValue else Similarity.twoLevelMinCells,
      superProbe = superProbe, seedArr = cents)
      .select(col("vec_id"), col("v"), col("norm"),
        element_at(col("cells"), 1).as("cell"))

  /** x − c[cell] per assigned row, as (vec_id, v, cell) — the residual
    * coders' input (FAISS by_residual): the broadcast centroid table is
    * the driver-side one, so no centroid re-read.
    */
  private def residuals(a: DataFrame, cents: Cents): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val c = cents.toSeq.map { case (cid, cv, _) => (cid, cv.toSeq) }
      .toDF("cell", "cv")
    a.join(broadcast(c), "cell")
      .select(col("vec_id"), VecQuant.sub(col("v"), col("cv")).as("v"),
        col("cell"))
  }

  /** Per-vector symmetric int8 quantization of vector column `x` —
    * [[Similarity.int8TopK]]'s exact convention (scale = max|x|,
    * q = floor(x·127/scale + 0.5), zero-vector conventions pinned). Adds
    * `scale`/`safe_scale`; select [[sqBytes]] and a rescale factor from
    * the result. Per-VECTOR scales mean an SQ flavor has no frozen
    * corpus-level quantizer at all: appends quantize themselves.
    */
  private def withScale(df: DataFrame, x: String): DataFrame =
    df.withColumn("scale", VecQuant.maxAbs(col(x)))
      .withColumn("safe_scale",
        when(col("scale") === 0d, lit(1.0)).otherwise(col("scale")))

  /** The packed codes of `x` over [[withScale]]'s rows, one byte per dim. */
  private def sqBytes(x: String): Column =
    VecQuant.sqPack(col(x), col("safe_scale")).as("qb")

  /** The absolute coding's stored rescale factor round(scale/norm, 9) —
    * what turns the integer code dot into a rank-only cosine surrogate.
    */
  private def sqRescale(norm: Column): Column =
    round(when(norm === 0d, lit(0.0)).otherwise(col("scale") / norm), 9)
      .as("r")

  /** Step 3 of the pipeline: encode assigned rows with the flavor's
    * encoder.
    *   - PQ: [[encodeCells]] over x (absolute) or x − c[cell] (residual).
    *   - SQ absolute: r = round(scale/norm, 9), the integer-dot rescale.
    *   - SQ residual: the int8 step shrinks from max|x|/127 (corpus scale)
    *     to max|resid|/127 (CELL scale) with no trained codebook; stored
    *     `r` is the residual scale itself (x̂ = c + qb·r/127).
    *   - MRL: [[mrlRows]].
    */
  private def encode(enc: Enc, a: DataFrame, cents: Cents): DataFrame =
    enc match {
      case Raw => a
      case Pq(codebook, residual, _) =>
        encodeCells(a.sparkSession,
          if (residual) residuals(a, cents) else a, codebook)
      case Sq(false) =>
        withScale(a, "v").select(col("vec_id"), col("cell"), sqBytes("v"),
          sqRescale(col("norm")))
      case Sq(true) =>
        withScale(residuals(a, cents), "v").select(col("vec_id"),
          col("cell"), sqBytes("v"), col("scale").as("r"))
      case m: Mrl => mrlRows(a, m)
    }

  /** The MRL prefix rows at the recorded width and coding — raw:
    * (vec_id, cell, vp, vpn), the first-`dims` slice and its norm exactly
    * as [[Similarity.matryoshkaRecall]] truncates; quantized (MRL × SQ8):
    * (vec_id, cell, qb, r), the prefix int8-coded with the absolute SQ
    * conventions over the PREFIX (scale = max|prefix|, r = round(scale /
    * prefixNorm, 9)) — one byte per kept dimension, so the shortlist
    * reads ~dims/(8·fullDims) of the raw bytes. `src` carries (vec_id, v,
    * cell); v IS `normed(emb)`'s column, so slice(v) equals the
    * query-side slice of the embedding cast, bit-exact. Any non-core
    * column of `src` (the metadata on re-read postings) rides along.
    */
  private def mrlRows(src: DataFrame, m: Mrl): DataFrame = {
    val carry = src.columns.filterNot(postingsCore.contains).map(col).toSeq
    val vp = slice(col("v"), 1, m.dims)
    if (m.quantized)
      withScale(src.withColumn("pv", vp)
        .withColumn("pn", sqrt(VecFold.dot(col("pv"), col("pv")))), "pv")
        .select(Seq(col("vec_id"), col("cell"), sqBytes("pv"),
          sqRescale(col("pn"))) ++ carry: _*)
    else
      src.withColumn("vp", vp)
        .select(Seq(col("vec_id"), col("cell"), col("vp"),
          sqrt(VecFold.dot(col("vp"), col("vp"))).as("vpn")) ++ carry: _*)
  }

  /** Steps 4–5, the one cell-partitioned write every flavor shares: join
    * the metadata back on vec_id, stamp the mutation seq, and repartition
    * BY THE PARTITION COLUMN before writing — partitionBy alone emits one
    * file per (task × cell) (12,800 ~65 KB files for 400 cells at the
    * 1000× corpus, measured; 2B files at 200k cells). Hash-clustering on
    * cell makes it one file per touched cell. (An over-large cell can
    * still be split via spark.sql.files.maxRecordsPerFile.)
    */
  private def writeCells(rows: DataFrame, metaSrc: DataFrame,
                         meta: Seq[String], seq: Long, mode: String,
                         dir: String): Unit =
    (if (meta.isEmpty) rows
     else rows.join(metaSrc.select((Seq("vec_id") ++ meta).map(col): _*),
       "vec_id"))
      .withColumn("ins_seq", lit(seq))
      .repartition(col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(dir)

  /** The build half of the write pipeline — every save* and the staged
    * [[rebuild]] run it:
    *   1. resolve the coarse centroids — the deterministic smallest-id
    *      seeds, or `trained` [[Similarity.kmeansCentroids]] (the build
    *      pays `trainIters` extra corpus scans for cells that actually
    *      tile the distribution; every downstream shape is unchanged) —
    *      and persist them;
    *   2. assign the corpus ONCE;
    *   3–5. encode, join metadata, stamp and write each flavor `flavors`
    *      names, in order, from that one assignment.
    * `flavors` sees the assignment and centroids before any data kind is
    * written (the PQ codebook trains there). An MRL flavor derives from
    * the postings just written — they carry cell, v AND the metadata, so
    * one pruned re-read replaces a second assignment pass and the join.
    * `insSeq` stamps the build rows' mutation sequence — 0 for a fresh
    * build (which also clears the mutation history); [[rebuild]] passes
    * the store's bumped counter so rows republished into a store whose
    * tombstones survive the flip outrank every existing `del_seq`.
    */
  private def buildStore(emb: DataFrame, path: String, nCells: Int,
                         trained: Boolean, trainIters: Int,
                         forceFlat: Boolean, superProbe: Int,
                         metaCols: Seq[String], insSeq: Long)
                        (flavors: (DataFrame, Cents) => Seq[Enc]): Unit = {
    val spark = emb.sparkSession
    retireQuantizerGenerations(spark, path)
    val cells = Similarity.autoCells(emb.count(), nCells)
    val centsDf =
      if (trained) Similarity.kmeansCentroids(emb, cells, trainIters)
      else Similarity.normed(emb).orderBy("vec_id").limit(cells)
        .select(col("vec_id").as("cid"), col("v").as("cv"), col("norm").as("cn"))
    centsDf.write.mode("overwrite").parquet(centroidsPath(path))
    // rows arrive in cid order (the seeds' orderBy, kmeans' index order)
    val cents: Cents = centsDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val a = assign(emb, cents, forceFlat, superProbe)
    val encs = flavors(a, cents)
    if (insSeq == 0L) // fresh build: no mutation history (a rebuild keeps it)
      Tombstones.clear(spark, path)
    encs.foreach { enc =>
      val (rows, meta) = enc match {
        case m: Mrl => (mrlRows(spark.read.parquet(s"$path/$PostingsKind"), m), Nil)
        case _ => (encode(enc, a, cents), metaCols)
      }
      retireGenerations(spark, path, enc.kind) // in-place rebuild
      writeCells(rows, emb, meta, insSeq, "overwrite", s"$path/${enc.kind}")
    }
  }

  /** The append half of the write pipeline, shared by every append*:
    * assign the batch against the store's FROZEN centroids, routed the
    * way the build routed, encode each flavor `flavors` names from that
    * one assignment, and fence-append them in order under ONE mutation
    * seq. `flavors` resolves its codings through the same [[Markers]] the
    * geometry was read from, so the owning flavor's marker is read once.
    * Every kind's metadata set is derived from — and validated against —
    * its own stored schema before anything is written: an append that
    * omitted a build-time metadata column would write rows a filtered
    * serve silently never matches.
    */
  private def appendStore(spark: SparkSession, path: String,
                          newEmb: DataFrame, superProbe: Int,
                          metaCols: Seq[String])
                         (flavors: Markers => Seq[Enc]): Unit = {
    val cents = Similarity.collectCentroids(
      spark.read.parquet(centroidsDir(spark, path)))
    val m = new Markers(spark, path)
    val geo = geometryMarker(spark, m)
    val encs = flavors(m)
    val a = assign(newEmb, cents, geo.flat, superProbe)
    val metas = encs.map(e =>
      appendMetaCols(spark, liveDir(spark, path, e.kind), e.core, newEmb, metaCols))
    // stamped AFTER any tombstone the caller just wrote ([[upsertIvf]]):
    // the appended rows outrank it and serve; older rows stay masked
    val seqNo = Tombstones.nextSeq(spark, path)
    encs.zip(metas).foreach { case (enc, meta) =>
      val rows = encode(enc, a, cents)
      fencedAppend(spark, path, enc.kind) { dir =>
        writeCells(rows, newEmb, meta, seqNo, "append", dir)
      }
    }
  }

  /** The raw flavor when the store carries it: a COMBINED store
    * (saveIvfPq/saveIvfSq `withRaw`, or saveIvf sharing the path) keeps
    * its refine flavor in step, so a rerank serve can refine appended
    * candidates instead of silently dropping them at the refine join.
    */
  private def rawInStep(spark: SparkSession, path: String): Seq[Enc] =
    if (generations(spark, path, PostingsKind).nonEmpty) Seq(Raw) else Nil

  /** Build + persist an IVF-Flat index of `emb` under `path`.
    * `metaCols` names extra `emb` columns to carry INTO the postings
    * (e.g. a label or language id): filtered serving
    * ([[ivfTopKIndexed]]'s `candWhere`) then pushes its predicate into
    * the postings parquet scan itself — candidates are cut at the
    * source, before any join, which is the only shape that survives a
    * low-selectivity filter at corpus scale (a post-join filter would
    * materialize every candidate first). `insSeq`: see [[buildStore]].
    */
  def saveIvf(emb: DataFrame, path: String, nCells: Int = 16,
              forceFlat: Boolean = false,
              superProbe: Int = Similarity.defaultSuperProbe,
              metaCols: Seq[String] = Nil,
              trained: Boolean = false,
              trainIters: Int = 3,
              insSeq: Long = 0L): Unit =
    Lease.withLease(emb.sparkSession, path, "saveIvf") {
    import emb.sparkSession.implicits._
    // the store self-describes its build configuration so [[rebuild]]
    // re-saves with the SAME coding instead of silently downgrading a
    // trained store to seeded centroids
    Seq((trained, trainIters, forceFlat))
      .toDF("trained", "train_iters", "flat")
      .write.mode("overwrite").parquet(ivfMetaPath(path))
    buildStore(emb, path, nCells, trained, trainIters, forceFlat, superProbe,
      metaCols, insSeq)((_, _) => Seq(Raw))
  }

  /** Build + persist the compressed IVF-PQ twin: cell-partitioned PQ
    * codes (the serving scan) plus the codebook. Codes and assignment are
    * the exact relations [[Similarity.ivfPqTopK]] builds inline
    * ([[Similarity.pqCodes]] + the shared coarse pass).
    *
    * `withRaw = true` additionally persists the raw postings flavor from
    * the SAME assignment pass (one extra cell-partitioned write, no
    * second assignment scan) — the combined store the rerank serve
    * ([[ivfPqRerankTopKIndexed]]) reads: PQ codes for the ADC shortlist,
    * co-located raw vectors for the exact refine. It is written AFTER the
    * codes, so a crash mid-build leaves at worst a codes-only store
    * (ivfPqTopKIndexed still serves; rerank fails loudly on the missing
    * postings, never silently).
    *
    * `residual = true` is the FAISS-IVFPQ production coding: vectors are
    * PQ-encoded as RESIDUALS against their assigned coarse centroid
    * (x − c[cell]) instead of absolute positions, and the serve builds
    * its ADC lookup table per (query, probed cell) over the query's own
    * residual. Why it matters: absolute-coding ADC error scales with the
    * CORPUS spread (nCode codewords must tile the whole space), while
    * residual error scales with the CELL spread — on any clustered
    * corpus that is an order of magnitude finer for the same code
    * budget. Requires `trained = true`: the codebook is Lloyd-trained on
    * the residual distribution (a seeded residual codebook would slice
    * residuals of the smallest-id vectors, which under seed centroids
    * ARE the centroids — identically zero). LUT cost grows from
    * nq·nSub·nCode to nq·nProbe·nSub·nCode — still query-bounded.
    */
  def saveIvfPq(emb: DataFrame, path: String, nCells: Int = 16,
                nSub: Int = 8, nCode: Int = 16,
                forceFlat: Boolean = false,
                superProbe: Int = Similarity.defaultSuperProbe,
                metaCols: Seq[String] = Nil,
                trained: Boolean = false,
                withRaw: Boolean = false,
                trainIters: Int = 3,
                residual: Boolean = false,
                insSeq: Long = 0L): Unit =
    Lease.withLease(emb.sparkSession, path, "saveIvfPq") {
    require(!residual || trained,
      "residual coding needs trained quantizers (the seeded residual " +
        "codebook is degenerate: smallest-id residuals under smallest-id " +
        "centroids are identically zero) — pass trained = true")
    import emb.sparkSession.implicits._
    // the store self-describes its coding AND build geometry so every
    // serve/append resolves the coding from disk (a residual store served
    // with absolute LUTs would be silently garbage) and [[rebuild]]
    // re-saves with the store's own trained/residual/nSub/nCode instead
    // of silently re-encoding at a different compression geometry
    Seq((residual, trained, nSub, nCode, trainIters, forceFlat))
      .toDF("residual", "trained", "n_sub", "n_code", "train_iters", "flat")
      .write.mode("overwrite").parquet(metaPath(path))
    buildStore(emb, path, nCells, trained, trainIters, forceFlat, superProbe,
      metaCols, insSeq) { (a, cents) =>
      Pq(pqCodebook(emb, path, a, cents, nSub, nCode, trained, trainIters,
        residual), residual) +: (if (withRaw) Seq(Raw) else Nil)
    }
  }

  /** A build's PQ codebook (sub, code, cw), persisted. `trained` =
    * [[Similarity.pqTrainCodebook]]'s dequantized Lloyd output (per
    * subspace) — over the residuals when `residual`, the absolute vectors
    * otherwise; seeded = the nCode smallest-id corpus vectors sliced per
    * subspace, the seed codewords [[Similarity.pqCodes]] assigns against.
    * Returned as the in-memory table, so the encode collects no re-read.
    */
  private def pqCodebook(emb: DataFrame, path: String, a: DataFrame,
                         cents: Cents, nSub: Int, nCode: Int,
                         trained: Boolean, trainIters: Int,
                         residual: Boolean): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val codebook =
      if (residual) Similarity.pqTrainCodebook(
        residuals(a, cents).withColumnRenamed("v", "embedding"),
        nSub, nCode, trainIters)
      else if (trained) Similarity.pqTrainCodebook(emb, nSub, nCode, trainIters)
      else {
        val seeds: Array[(Long, Array[Double])] = Similarity.normed(emb)
          .orderBy("vec_id").limit(nCode)
          .select("vec_id", "v").collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        val sub = if (seeds.nonEmpty) seeds(0)._2.length / nSub else 0
        (for {
          m <- 0 until nSub
          (cid, cv) <- seeds
        } yield (m.toLong, cid, cv.slice(m * sub, (m + 1) * sub).toSeq))
          .toDF("sub", "code", "cw")
      }
    codebook.write.mode("overwrite").parquet(codewordsPath(path))
    codebook
  }

  /** PQ-encode a pre-assigned batch `src` (vec_id, v, cell) against an
    * EXPLICIT codeword table (sub, code, cw) — [[Similarity.pqCodes]]'
    * rounding and tie semantics exactly (9-dp-rounded subspace L2,
    * smaller code id wins ties), so a seeded codebook codes exactly as
    * the inline pqCodes does. The codebook is grouped per subspace and
    * sorted by code id driver-side (constant-bounded: nSub·nCode rows) so
    * the linear scan reproduces the first-smallest-id tie-break. The cell
    * rides through: `src` is the assignment itself, so the corpus is not
    * re-read for the encode and no (vec_id → cell) re-attach join
    * follows. Output (vec_id, sub, code, cell).
    */
  private def encodeCells(spark: SparkSession, src: DataFrame,
                          codewords: DataFrame): DataFrame = {
    val bySub: Map[Long, Array[(Long, Array[Double])]] =
      codewords
        .select("sub", "code", "cw").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
        .groupBy(_._1)
        .map { case (m, rows) => m -> rows.map(r => (r._2, r._3)).sortBy(_._1) }
    val nSub = bySub.size
    val bc = spark.sparkContext.broadcast(bySub)
    // native expression, not a udf: same kernel, primitive vector input
    // instead of a boxed Seq[Double] per row (graft.functions.PqKernels)
    val codes = org.apache.spark.sql.graft.GraftShim.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.graft.GraftShim.expression(col("v")), bc, nSub))
    src
      .select(col("vec_id"), posexplode(codes).as(Seq("sub", "code")), col("cell"))
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"),
        col("cell"))
  }

  /** A query batch's probe set: the (query_id, cell) `pairs`, the
    * normalized query table `q`, and the distinct probed `cells`
    * collected driver-side (the scan cut [[prunedToProbes]] takes —
    * bounded by nq·nProbe, never corpus-side).
    */
  private final case class Probes(pairs: DataFrame, q: DataFrame,
                                  cells: Array[Long])

  /** Step 1 of [[serve]], the query-side coarse ranking: exact flat scan
    * over the stored centroids (ties and 9-dp rounding exactly as the
    * inline path).
    */
  private def probeSet(spark: SparkSession, path: String, queries: DataFrame,
                       nProbe: Int): Probes = {
    val cents = Similarity.collectCentroids(
      spark.read.parquet(centroidsDir(spark, path)))
    val q = Similarity.normed(queries)
    val ranked = Similarity.withCellRanks(q, cents.length,
      keep = nProbe,
      twoLevelMin = Int.MaxValue, seedArr = cents)
    val probes = ranked.select(col("vec_id").as("query_id"),
      explode(slice(col("cells"), 1, nProbe)).as("cell"))
    Probes(probes, q,
      probes.select("cell").distinct().collect().map(_.getLong(0)))
  }

  /** The serving-path scan cut: restrict a cell-partitioned store to the
    * query batch's probed cells. The probe list is collected driver-side —
    * bounded by nq·nProbe (and by nCells), a QUERY-side quantity that
    * stays small at any corpus scale. TWO cuts compose: the read names
    * ONLY the probed partition directories (basePath + explicit paths —
    * full-store partition discovery lists every cell directory before
    * pruning, a driver cost that grows with the CELL COUNT; at a 2,500-
    * bucket lexical grid it quadrupled a 5-seed serve, and a 100-TB
    * store has orders of magnitude more cells than any serve probes),
    * and the literal isin on the partition column stays on top, keeping
    * the prune visible in the plan (PlanSpec pins PartitionFilters) and
    * guarding against a path-construction drift.
    */
  private[graft] def prunedToProbes(spark: SparkSession, dir: String,
                                    probeVals: Array[Long],
                                    partitionCol: String = "cell"): DataFrame = {
    import org.apache.hadoop.fs.Path
    val base = new Path(dir)
    val fs = fsOf(spark, base)
    // existence-filter the probed dirs: a probed cell can be empty (no
    // vector ever assigned there) and parquet refuses missing paths.
    // The probes are checked CONCURRENTLY (bounded pool): serially this
    // is one storage round-trip per probed cell — nq·nProbe of them per
    // serve, which at object-store latency dominates plan time long
    // before the scan starts. Order-preserving, so the read's path list
    // (and everything downstream) is byte-identical to the serial check.
    val paths = probeVals.map(v => new Path(base, s"$partitionCol=$v"))
    val dirs: Array[String] =
      if (paths.length <= 1) paths.filter(fs.exists).map(_.toString)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, paths.length))
        try {
          val checks = paths.map { p =>
            pool.submit(new java.util.concurrent.Callable[Boolean] {
              def call(): Boolean = fs.exists(p)
            })
          }
          paths.zip(checks).collect {
            case (p, f) if f.get() => p.toString
          }
        } catch {
          // preserve the serial path's error shape (an fs.exists IOException
          // propagated directly, not wrapped), and cancel still-queued
          // checks so one failed probe doesn't wait out the rest of the pool
          case e: java.util.concurrent.ExecutionException =>
            pool.shutdownNow()
            throw Option(e.getCause).getOrElse(e)
        } finally pool.shutdown()
      }
    val pruned =
      if (dirs.isEmpty) spark.read.parquet(dir).where(lit(false))
      else spark.read.option("basePath", dir).parquet(dirs.toSeq: _*)
    pruned.where(col(partitionCol).isin(probeVals.toSeq: _*))
  }

  /** Refresh a stored IVF-Flat index WITHOUT a rebuild: assign only the
    * arriving batch against the STORED centroids (the
    * [[Similarity.ivfAssignIncremental]] daily-refresh contract —
    * O(batch · nCells), no standing rescan, two-level routing past the
    * activation threshold exactly like the build) and append its postings
    * to the cell partitions. The quantizer is intentionally frozen: cell
    * ids stay stable, so existing postings never move — the standard IVF
    * refresh trade-off (centroid drift is the [[Similarity.snapshotDrift]]
    * monitor's job; a drifted corpus warrants a rebuild, not an append).
    * Concurrency: a parquet reader lists files at PLAN time, so a serve
    * planned before an append completes simply answers from the
    * pre-append snapshot — appends are atomic-per-file and
    * eventually-visible, never torn.
    */
  def appendIvf(spark: SparkSession, path: String, newEmb: DataFrame,
                superProbe: Int = Similarity.defaultSuperProbe,
                metaCols: Seq[String] = Nil): Unit =
    Lease.withLease(spark, path, "appendIvf") {
      appendStore(spark, path, newEmb, superProbe, metaCols)(_ => Seq(Raw))
    }

  /** Refresh a stored IVF-PQ index without a rebuild — the compressed
    * twin of [[appendIvf]], and the one that matters at corpus scale
    * (the PQ store is what a 100-TB deployment actually serves from).
    * The arriving batch is coarse-assigned against the FROZEN stored
    * centroids and PQ-encoded against the FROZEN stored codebook
    * ([[Similarity.pqCodes]] rounding and tie-break semantics exactly:
    * 9-dp-rounded subspace L2, smaller code id wins ties) — as residuals
    * against its assigned centroid on a residual store, exactly like the
    * build — then appended to its `pq_codes` cell partitions (and the raw
    * flavor, [[rawInStep]]). Both quantizers stay frozen for the same
    * reason the IVF one does: code/cell ids remain stable so existing
    * rows never move; codebook drift, like centroid drift, is a rebuild
    * decision informed by [[Similarity.snapshotDrift]].
    */
  def appendIvfPq(spark: SparkSession, path: String, newEmb: DataFrame,
                  superProbe: Int = Similarity.defaultSuperProbe,
                  metaCols: Seq[String] = Nil): Unit =
    Lease.withLease(spark, path, "appendIvfPq") {
      appendStore(spark, path, newEmb, superProbe, metaCols) { m =>
        pqOf(m, spark.read.parquet(codewordsDir(spark, path))) +:
          rawInStep(spark, path)
      }
    }

  /** Tombstone a batch of vector ids — O(batch), no partition rewrite.
    * Masked everywhere from the next serve's plan on: the ADC scan, the
    * flat scan, and the rerank refine all anti-join the tombstones
    * against their already-pruned candidates ([[Tombstones]] for the
    * masking rule and why upserted rows are exempt). Physical removal
    * and tombstone consumption happen at the next [[compact]]; the mass
    * outstanding is [[deleteStats]]' job.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Lease.withLease(spark, path, "delete") {
      Tombstones.write(spark, path, ids, "vec_id")
    }

  /** Predicate deletion (the DELETE WHERE / retention shape): tombstone
    * every CURRENTLY-SERVED id matching `pred` — a predicate over the
    * store's own columns, metadata (`metaCols`) included, so "drop
    * tenant X" / "drop label 3" needs no external id list. One pruned
    * column scan of the live store (the predicate and the two-column
    * projection push into parquet), then the usual O(match) tombstone
    * write. Resolved against the MASKED store: an id whose only live
    * version matches is tombstoned; ids already masked are not
    * re-tombstoned (idempotent under re-runs).
    */
  def deleteWhere(spark: SparkSession, path: String, pred: Column): Unit =
    Lease.withLease(spark, path, "deleteWhere") {
    val kind = primaryKind(spark, path).getOrElse(PostingsKind)
    val ids = Tombstones.mask(
      spark.read.parquet(liveDir(spark, path, kind)),
      Tombstones.readAll(spark, path), "vec_id")
      .where(pred).select("vec_id").distinct()
    delete(spark, path, ids)
  }

  /** Replace vectors in place: tombstone the batch's ids (mutation seq
    * s), then append the new versions (seq s+1) — the delete-then-add
    * ordering. Serves see exactly the new version: old rows are masked
    * by the tombstone, new rows outrank it. Every upsert* is this, over
    * its flavor's append (combined stores keep the raw flavor in step
    * through the append).
    */
  private def upsert(spark: SparkSession, path: String, batch: DataFrame,
                     op: String)(append: => Unit): Unit =
    Lease.withLease(spark, path, op) {
      delete(spark, path, batch.select("vec_id"))
      append
    }

  /** [[upsert]] over [[appendIvf]]. */
  def upsertIvf(spark: SparkSession, path: String, batch: DataFrame,
                superProbe: Int = Similarity.defaultSuperProbe,
                metaCols: Seq[String] = Nil): Unit =
    upsert(spark, path, batch, "upsertIvf")(
      appendIvf(spark, path, batch, superProbe, metaCols))

  /** [[upsert]] over [[appendIvfPq]]. */
  def upsertIvfPq(spark: SparkSession, path: String, batch: DataFrame,
                  superProbe: Int = Similarity.defaultSuperProbe,
                  metaCols: Seq[String] = Nil): Unit =
    upsert(spark, path, batch, "upsertIvfPq")(
      appendIvfPq(spark, path, batch, superProbe, metaCols))

  /** [[upsert]] over [[appendIvfSq]]. */
  def upsertIvfSq(spark: SparkSession, path: String, batch: DataFrame,
                  superProbe: Int = Similarity.defaultSuperProbe,
                  metaCols: Seq[String] = Nil): Unit =
    upsert(spark, path, batch, "upsertIvfSq")(
      appendIvfSq(spark, path, batch, superProbe, metaCols))

  /** [[upsert]] over [[appendIvfMrl]] — both MRL flavors. */
  def upsertIvfMrl(spark: SparkSession, path: String, batch: DataFrame,
                   superProbe: Int = Similarity.defaultSuperProbe,
                   metaCols: Seq[String] = Nil): Unit =
    upsert(spark, path, batch, "upsertIvfMrl")(
      appendIvfMrl(spark, path, batch, superProbe, metaCols))

  /** The deletion-mass hook — [[stats]]' tombstone twin, the compaction
    * trigger deletes add: every masked row is anti-join work each serve
    * repeats and dead bytes each probed scan still reads, both
    * reclaimed by [[compact]]. Counted at VERSION level — a stored
    * version is one (vec_id, ins_seq): a plain delete masks a vector's
    * only version; an upsert leaves one masked (dead) version plus one
    * live one, so `n_masked` is exactly the dead mass a compaction
    * reclaims, not "vectors ever touched". One row:
    * (n_versions_stored, n_tombstones, n_masked, masked_frac).
    */
  def deleteStats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val kind = primaryKind(spark, path).getOrElse(PostingsKind)
    // version-level view: one (vec_id, ins_seq) per stored version (the
    // PQ flavor repeats it nSub times)
    val vecs = spark.read.parquet(liveDir(spark, path, kind))
      .select(col("vec_id"),
        coalesce(col("ins_seq"), lit(0L)).as("ins_seq"))
      .distinct()
    val tomb = Tombstones.readAll(spark, path)
    // ONE pass over the store instead of two: tombstones pre-aggregated
    // to max(del_seq) per id (a version is masked iff SOME tombstone has
    // del_seq ≥ ins_seq ⟺ the max does), then stored + masked counted
    // from a single 1:≤1 left join — the separate count() and semi-join
    // count() each re-scanned the store; n_tombstones is the pre-agg's
    // own row count (= distinct tombstoned ids)
    val (nStored, nTomb, masked) = tomb match {
      case None => (vecs.count(), 0L, 0L)
      case Some(t) =>
        // n_tombstones counts ALL distinct tombstoned ids — present in
        // the store or not — so it comes from the pre-agg itself, not
        // from the join (an unmatched tombstone never appears there)
        val tt = t.groupBy(col("vec_id").as("__tomb_id"))
          .agg(max("del_seq").as("__tomb_seq"))
        val row = vecs.join(tt,
            vecs("vec_id") === tt("__tomb_id"), "left")
          .agg(count(lit(1)).as("stored"),
            count(when(col("__tomb_seq") >= col("ins_seq"), lit(1)))
              .as("masked"))
          .head()
        (row.getLong(0), tt.count(), row.getLong(1))
    }
    Seq((nStored, nTomb, masked))
      .toDF("n_versions_stored", "n_tombstones", "n_masked")
      .withColumn("masked_frac",
        round(col("n_masked").cast("double") / col("n_versions_stored"), 4))
  }

  /** Build + persist the SCALAR-QUANTIZED IVF store (cf. FAISS
    * IndexIVFScalarQuantizer, QT_8bit-style): cell-partitioned int8
    * code vectors — 1 byte/dim + an 8-byte rescale factor ≈ 8× smaller
    * than the raw `postings/` flavor, at near-flat recall (the
    * `ann_int8_recall` eval prices the quantization loss; contrast the
    * PQ store's 8-codes-per-vector compression and its ADC error).
    * The serving middle tier: PQ when bytes dominate, SQ when recall
    * does, raw when the refine needs exact cosines. `residual` codes
    * x − c[cell] per vector (FAISS's by_residual for the scalar
    * quantizer — [[encode]]); `withRaw` adds the refine flavor for
    * [[ivfSqRerankTopKIndexed]] under the saveIvfPq contract (same
    * assignment, written after the codes).
    */
  def saveIvfSq(emb: DataFrame, path: String, nCells: Int = 16,
                forceFlat: Boolean = false,
                superProbe: Int = Similarity.defaultSuperProbe,
                metaCols: Seq[String] = Nil,
                trained: Boolean = false,
                trainIters: Int = 3,
                withRaw: Boolean = false,
                residual: Boolean = false,
                insSeq: Long = 0L): Unit =
    Lease.withLease(emb.sparkSession, path, "saveIvfSq") {
    import emb.sparkSession.implicits._
    // the store self-describes its coding (a residual store served with
    // the absolute integer-dot ranking would be silently garbage) and
    // its centroid training, so [[rebuild]] preserves both
    Seq((residual, trained, trainIters, forceFlat))
      .toDF("residual", "trained", "train_iters", "flat")
      .write.mode("overwrite").parquet(sqMetaPath(path))
    buildStore(emb, path, nCells, trained, trainIters, forceFlat, superProbe,
      metaCols, insSeq)((_, _) => Sq(residual) +: (if (withRaw) Seq(Raw) else Nil))
  }

  /** Refresh the SQ store without a rebuild: coarse-assign the batch
    * against the FROZEN stored centroids and quantize per-vector (the
    * SQ tier's refresh is the simplest of the three — there is no
    * corpus-level quantizer to freeze); a residual store codes the
    * batch's residuals against its assigned frozen centroid, and a
    * combined SQ+raw store keeps its refine flavor in step.
    */
  def appendIvfSq(spark: SparkSession, path: String, newEmb: DataFrame,
                  superProbe: Int = Similarity.defaultSuperProbe,
                  metaCols: Seq[String] = Nil): Unit =
    Lease.withLease(spark, path, "appendIvfSq") {
      appendStore(spark, path, newEmb, superProbe, metaCols)(m =>
        sqOf(m) +: rawInStep(spark, path))
    }

  /** Build + persist the MATRYOSHKA serving tier: a cell-partitioned
    * PREFIX-DIMENSION flavor (`mrl_codes/`: vec_id, first-`prefixDims`
    * slice, prefix norm) co-located with the full-width raw postings —
    * the other compression axis modern embedding pipelines use
    * alongside SQ/PQ (Kusupati et al., "Matryoshka Representation
    * Learning": prefixes of an MRL-trained embedding are themselves
    * valid embeddings). The serve ([[ivfMrlRerankTopKIndexed]])
    * shortlists on prefix cosines — reading prefixDims/dim of the
    * postings bytes — and refines the nq·rerank shortlist at full
    * width. Cell assignment is FULL-dimension (the coarse quantizer is
    * shared with every other flavor), so probe semantics are identical
    * to the raw store's. Implemented as [[saveIvf]] (centroids +
    * ivf_meta + raw postings, same build knobs) plus the prefix flavor
    * derived from the just-written postings ([[buildStore]]) — one extra
    * cell-partitioned write, no second assignment pass.
    *
    * `quantized = true` builds the MRL × SQ8 COMBINED tier ([[mrlRows]]):
    * 1 byte per kept dimension, so the shortlist reads ~dims/(8·fullDims)
    * of the raw bytes (~2% at 16-of-64 vs the raw prefix's 25%) and the
    * full-width refine is unchanged. The coding is recorded in
    * `mrl_meta` and every serve/append/rebuild dispatches from disk.
    */
  def saveIvfMrl(emb: DataFrame, path: String, prefixDims: Int = 16,
                 nCells: Int = 16,
                 forceFlat: Boolean = false,
                 superProbe: Int = Similarity.defaultSuperProbe,
                 metaCols: Seq[String] = Nil,
                 trained: Boolean = false,
                 trainIters: Int = 3,
                 quantized: Boolean = false,
                 insSeq: Long = 0L): Unit =
    Lease.withLease(emb.sparkSession, path, "saveIvfMrl") {
    require(prefixDims > 0, "prefixDims must be positive")
    import emb.sparkSession.implicits._
    Seq((trained, trainIters, forceFlat))
      .toDF("trained", "train_iters", "flat")
      .write.mode("overwrite").parquet(ivfMetaPath(path))
    // the store self-describes its prefix width AND coding: serves and
    // appends must slice exactly as the build did (a mismatched
    // query-side slice would rank prefixes of different lengths; a
    // quantized store scored as raw doubles would read garbage)
    Seq((prefixDims, quantized)).toDF("prefix_dims", "quantized")
      .write.mode("overwrite").parquet(mrlMetaPath(path))
    buildStore(emb, path, nCells, trained, trainIters, forceFlat, superProbe,
      metaCols, insSeq)((_, _) => Seq(Raw, Mrl(prefixDims, quantized)))
  }

  /** Refresh the MRL store without a rebuild: the batch is assigned
    * against the FROZEN stored centroids and sliced at the store's own
    * prefix width — like the SQ tier there is no corpus-level quantizer
    * to freeze, only the centroids and the recorded width. Both
    * flavors (prefix codes + raw refine) append under one mutation seq.
    *
    * The RAW refine flavor appends FIRST: the two flavors land in two
    * writes, and a crash (or fence abort) between them must leave the
    * benign asymmetry — an id present in postings but missing from
    * mrl_codes is merely never SHORTLISTED (and still serves through
    * every raw-flavor path), whereas the reverse order leaves prefix
    * rows whose refine join silently drops them from every MRL result
    * (recall loss with no error). Recovery after a crash between the
    * writes: re-run the append — or compare the two flavors' vec_id sets
    * at this seq and re-append the difference.
    */
  def appendIvfMrl(spark: SparkSession, path: String, newEmb: DataFrame,
                   superProbe: Int = Similarity.defaultSuperProbe,
                   metaCols: Seq[String] = Nil): Unit =
    Lease.withLease(spark, path, "appendIvfMrl") {
      appendStore(spark, path, newEmb, superProbe, metaCols)(m =>
        Seq(Raw, mrlOf(m)))
    }

  /** The MATRYOSHKA serve: prefix-cosine shortlist from the stored
    * `mrl_codes/` (probed-cell partitions only — the scan reads
    * prefixDims/dim of the raw bytes), exact full-width refine from the
    * co-located `postings/` ([[refineExact]] — nq·rerank-bounded, cost
    * independent of corpus size). Shortlist scores are the truncated
    * vectors' cosines exactly as [[Similarity.matryoshkaRecall]]
    * evaluates them (6-dp round, ties on neighbor_id); `rerank <= 0`
    * resolves through [[Similarity.autoRerank]]. Output matches
    * [[ivfTopKIndexed]]: (query_id, neighbor_id, cosine, rank).
    */
  def ivfMrlRerankTopKIndexed(spark: SparkSession, path: String,
                              queries: DataFrame, k: Int, rerank: Int = 0,
                              nProbe: Int = 4,
                              candWhere: Column = lit(true)): DataFrame =
    serve(spark, path, queries, k, nProbe, candWhere,
      rerank = Some(Similarity.autoRerank(k, rerank)))(mrlOf)

  /** Answer a query batch from the stored SQ codes: probed-cell
    * partitions only, candidates ranked by the store's own coding
    * ([[scoreKernel]]). Output (query_id, neighbor_id, score, rank) — ONE
    * contract for both codings; `score` is the dequantized cosine on a
    * residual store and the rescaled integer dot (a rank-only surrogate,
    * not a true cosine) on an absolute store. `asOfSeq` is the
    * time-travel bound [[ivfTopKIndexed]] documents — same semantics,
    * same two pushed predicates, same compaction/rebuild horizon.
    */
  def ivfSqTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                       k: Int, nProbe: Int = 4,
                       candWhere: Column = lit(true),
                       asOfSeq: Option[Long] = None): DataFrame =
    serve(spark, path, queries, k, nProbe, candWhere, asOfSeq)(sqOf)
      .select(col("query_id"), col("neighbor_id"),
        col("cosine").as("score"), col("rank"))

  /** Drop every generation of `kind` (used by an in-place REBUILD: the
    * overwrite save targets the flat v0 directory, so stale higher
    * versions from a previous store's compactions must not outrank it).
    * Shared with [[LexIndex.saveLexical]], whose rebuild has the same
    * stale-generation exposure.
    */
  private[graft] def retireGenerations(spark: SparkSession, path: String,
                                       kind: String): Unit =
    generations(spark, path, kind).foreach { case (_, p) =>
      fsOf(spark, p).delete(p, true); ()
    }

  /** A DIRECT re-save on an existing store path is an in-place rebuild:
    * the flat quantizer dirs it writes must become live again, so every
    * versioned quantizer generation and every store-level `commit_v<n>`
    * marker from previous [[rebuild]]s is dropped first (a stale
    * commit marker could otherwise falsely commit a later compaction's
    * crashed, uncommitted generation that happens to reuse the number).
    */
  private def retireQuantizerGenerations(spark: SparkSession,
                                         path: String): Unit = {
    retireGenerations(spark, path, CentroidsKind)
    retireGenerations(spark, path, CodewordsKind)
    dropStoreCommits(spark, path)
  }

  /** Drop every store-level `commit_v<n>` marker — part of the in-place
    * rebuild contract (a stale marker could falsely commit a later
    * publish's crashed, uncommitted generation reusing the number).
    */
  private[graft] def dropStoreCommits(spark: SparkSession,
                                      path: String): Unit = {
    pruneCommits(spark, path, Set.empty); ()
  }

  /** Delete every store-level `commit_v<n>` marker whose version `n` is
    * not in `keepVers` — the markers no surviving generation needs.
    * Returns the bytes the deleted markers held.
    */
  private def pruneCommits(spark: SparkSession, path: String,
                           keepVers: Set[String]): Long = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = fsOf(spark, root)
    if (!fs.exists(root)) 0L
    else fs.listStatus(root).toSeq
      .filter { st =>
        val name = st.getPath.getName
        st.isFile && name.startsWith("commit_v") &&
          !keepVers.contains(name.stripPrefix("commit_v"))
      }
      .map { st => fs.delete(st.getPath, false); st.getLen }.sum
  }

  /** Append-vs-compaction fence. The refresh paths resolve the live
    * generation, write into it, then MUST observe the same generation
    * still live: a compaction whose source listing predates the append
    * (or a flip landing between resolve and write) strands the appended
    * files in the retired/grace generation — [[liveDir]] never serves
    * them and the next compaction deletes them, a silent-data-loss
    * window. The store's write contract is single-writer (appends and
    * compact must not interleave); this fence turns a violated contract
    * into a loud failure instead of lost rows. On failure the append DID
    * NOT take effect if the flip preceded the write's visibility — but a
    * compaction that listed mid-write may have folded part of the batch
    * in, so the safe recovery is: quiesce the compactor, check the live
    * generation for the batch's ids, re-append what is missing. On a
    * COMBINED store (PQ/SQ/MRL + raw) an append is two fenced writes
    * sharing one seq — recovery must also check the SIBLING flavor for
    * the batch's ids and re-sync the difference (the append orders the
    * writes so a gap is at worst un-shortlisted, never silently dropped
    * at a refine join — see [[appendIvfMrl]]).
    */
  private[graft] def fencedAppend(spark: SparkSession, path: String,
                                  kind: String)(write: String => Unit): Unit = {
    val live = liveDir(spark, path, kind)
    write(live)
    val after = liveDir(spark, path, kind)
    if (after != live)
      throw new IllegalStateException(
        s"append raced a compaction on $path/$kind: wrote into $live but " +
          s"$after is now live, so the appended rows are stranded in a " +
          "retired generation and will NOT be served. Appends and compact " +
          "are single-writer — quiesce the compactor, verify which of the " +
          "batch's rows reached the live generation, and re-append the rest.")
  }

  /** What a rebuild must observe UNCHANGED between reading its corpus
    * and publishing its generations: the mutation counter (every
    * append/delete/upsert bumps it — [[Tombstones.nextSeq]]) and the
    * committed-generation set (a compaction flip changes it without
    * bumping the counter). Together they cover every mutation the
    * store's single-writer contract forbids during the rebuild window.
    */
  private[graft] case class StoreSnapshot(seq: Long, gens: Set[String])

  private[graft] def snapshotStore(spark: SparkSession,
                                   path: String): StoreSnapshot =
    StoreSnapshot(
      Tombstones.currentSeq(spark, path),
      AllKinds.flatMap(k => generations(spark, path, k)
        .filter { case (_, p) => isCommitted(spark, p) }
        .map { case (_, p) => p.getName }).toSet)

  /** The rebuild-vs-mutator fence — [[fencedAppend]]'s twin for the
    * other side of the single-writer contract. A rebuild reads the
    * corpus at time T and publishes at time T+hours (at 100 TB the
    * staged build IS hours); a mutation landing in between mutated a
    * snapshot the rebuild had already read, so the new generations
    * would silently lack it — the honor-system window round 13
    * documented ("quiesce mutators") is here turned into a loud abort:
    * the staged output is discarded, the store is untouched (it still
    * serves every mutation), and the caller re-runs the rebuild after
    * actually quiescing its mutators. Checked BEFORE the commit-marker
    * create, so a failed rebuild can never half-publish.
    */
  private[graft] def verifyUnmoved(spark: SparkSession, path: String,
                                   snap: StoreSnapshot, stampSeq: Long,
                                   stage: String, what: String): Unit = {
    val seqNow = Tombstones.currentSeq(spark, path)
    val gensNow = snapshotStore(spark, path).gens
    if (seqNow != stampSeq || gensNow != snap.gens)
      abortRaced(spark, path, stage, what,
        s"the store's mutation counter moved $stampSeq -> $seqNow (or a " +
          "compaction flipped a generation)")
  }

  private[graft] def abortRaced(spark: SparkSession, path: String,
                                stage: String, what: String,
                                detail: String): Nothing = {
    val sp = new org.apache.hadoop.fs.Path(stage)
    val fs = fsOf(spark, sp)
    if (fs.exists(sp)) { fs.delete(sp, true); () }
    throw new IllegalStateException(
      s"$what raced a concurrent mutation on $path: $detail after the " +
        s"$what read its inputs, so the staged output would silently " +
        "lack that mutation. Rebuilds/folds and mutators are " +
        "single-writer — the staged output was discarded and the store " +
        "is UNCHANGED (it still serves every mutation, including the " +
        "racing one); quiesce appends/deletes/upserts/compactions and " +
        s"re-run the $what.")
  }

  /** Compact a store's cell partitions back to one file per cell — both
    * flavors, whichever of `postings/` / `pq_codes/` the store carries.
    * Every append adds one file per touched cell; after many refresh
    * cycles a hot cell is dozens of small files and the serve scan pays
    * per-file open/footer overhead — the same small-files failure the
    * build writer fixed, re-accumulating incrementally.
    *
    * Publication is VERSIONED, not rename-swapped: the compacted layout
    * lands in a fresh `<kind>_v<n+1>` directory and becomes live the
    * instant its `_SUCCESS` marker commits (one atomic file create —
    * [[liveDir]] only ever selects committed generations). This buys the
    * two safety properties a rename swap lacks:
    *   - CRASH safety: a compaction that dies mid-write leaves an
    *     uncommitted directory no reader selects; the store never passes
    *     through a state where the live data is missing or partial.
    *   - READER safety: the PREVIOUS generation stays on disk until the
    *     NEXT compaction retires it, so a serve planned against the old
    *     listing (parquet readers pin file paths at plan time) executes
    *     to completion even if the flip happens mid-query — no
    *     FileNotFoundException window. ServeBench races a pre-planned
    *     serve against the flip and pins checksum equality at 100×.
    * Cost: up to one retained previous generation (≤ 2× kind bytes
    * between compactions) — the standard MVCC trade every table format
    * (Iceberg/Delta snapshots) makes.
    * Content is unchanged — IndexSpec pins serve bit-equality across a
    * compaction for both flavors. The rewrite reads with mergeSchema so
    * a store whose files disagree on metadata columns (possible only for
    * stores written before appends validated metaCols) compacts to the
    * union schema instead of silently dropping metadata.
    */
  def compact(spark: SparkSession, path: String): Unit =
    Lease.withLease(spark, path, "compact") {
    // tombstone consumption: list ONCE, purge masked rows from every
    // flavor's rewrite, then delete exactly the listed files — a delete
    // landing after the listing keeps masking at serve time and is
    // consumed by the NEXT compaction instead of being silently dropped
    val consumed = Tombstones.listFiles(spark, path)
    val tomb = Tombstones.readFiles(spark, consumed)
    Seq(PostingsKind, PqCodesKind, SqCodesKind, MrlCodesKind)
      .foreach(compactKind(spark, path, _, "cell", Nil, tomb, "vec_id"))
    Tombstones.deleteFiles(spark, path, consumed)
    // fold the mutation-counter markers too: compaction is the store's
    // periodic housekeeping window, and nothing else prunes seq/
    Tombstones.collapseSeq(spark, path)
  }

  /** One kind's compaction cycle (shared with [[LexIndex]], whose posting
    * store is bucket- rather than cell-partitioned).
    */
  /** `sortCols`: in-file order the rewrite restores (lexical postings
    * re-sort by term hash so row-group min/max stats keep the serve's
    * term-predicate pushdown selective; the ANN stores have no in-file
    * order contract).
    */
  /** `purge`: tombstones to fold into the rewrite — masked rows are
    * physically dropped from the new generation (the caller consumes
    * the corresponding tombstone files after every kind is rewritten).
    */
  private[graft] def compactKind(spark: SparkSession, path: String,
                                 kind: String, partitionCol: String,
                                 sortCols: Seq[String] = Nil,
                                 purge: Option[DataFrame] = None,
                                 purgeIdCol: String = "vec_id"): Unit = {
    import org.apache.hadoop.fs.Path
    val gens = generations(spark, path, kind)
    if (gens.exists { case (_, p) => isCommitted(spark, p) }) {
      val src = liveDir(spark, path, kind)
      // next version past EVERY on-disk generation, committed or not —
      // a crashed compaction's leftover is simply overwritten later,
      // never reused as-is
      val next = gens.map(_._1).max + 1
      val dst = s"$path/${kind}_v$next"
      val rewritten = Tombstones.mask(
        spark.read.option("mergeSchema", "true").parquet(src),
        purge, purgeIdCol)
        .repartition(col(partitionCol))
      // sort by (partitionCol, sortCols...): the partition-column prefix
      // satisfies the dynamic-partition write's required ordering, so the
      // write adds NO second sort, and within each partition's file the
      // rows still come out sortCols-ordered (partitionCol is constant
      // there) — one local sort instead of two
      (if (sortCols.isEmpty) rewritten
       else rewritten.sortWithinPartitions(
         (partitionCol +: sortCols).map(col): _*))
        .write.mode("overwrite").partitionBy(partitionCol).parquet(dst)
      val dstPath = new Path(dst)
      val fs = fsOf(spark, dstPath)
      // the publish point: ensure the commit marker exists even when
      // the committer was configured not to write one
      val marker = new Path(dstPath, "_SUCCESS")
      if (!fs.exists(marker)) { fs.create(marker).close() }
      // retire everything older than the generation readers may still
      // hold plans against: keep dst (live) + src (grace window).
      // Compare by directory NAME — generation paths from the fs
      // listing carry a scheme (file:/…) the constructed strings lack.
      val keep = Set(dstPath.getName, new Path(src).getName)
      generations(spark, path, kind).foreach { case (_, p) =>
        if (!keep.contains(p.getName)) { fs.delete(p, true); () }
      }
    }
  }


  /** The rebuild-decision hook: how far a refreshed store has drifted
    * from the cell budget a fresh build would get. `n_cells` is what the
    * store HAS (frozen at build); `auto_cells` is what
    * [[Similarity.autoCells]] would give the CURRENT corpus; their ratio
    * (`dilution`) multiplies the corpus fraction every serve reads
    * (probed fraction = nProbe / cells). SCALING.md's append-dilution
    * section measures what unchecked dilution costs — the operational
    * rule is to rebuild (alongside the [[Similarity.snapshotDrift]]
    * distribution check) once dilution crosses the serve's spill
    * headroom. One row: (n_vectors, n_cells, auto_cells, dilution).
    */
  def stats(spark: SparkSession, path: String, floorCells: Int = 16): DataFrame = {
    import spark.implicits._
    // flavor-aware like compact: a PQ-only store (saveIvfPq writes no
    // postings/) counts distinct vec_id over its codes instead
    val kind = primaryKind(spark, path).getOrElse(SqCodesKind)
    // the SERVED corpus: tombstoned rows are invisible to every serve
    // (their dead mass is [[deleteStats]]' column, not this one's)
    val served = Tombstones.mask(spark.read.parquet(liveDir(spark, path, kind)),
      Tombstones.readAll(spark, path), "vec_id")
    val n =
      if (kind == PostingsKind) served.count()
      else served.select("vec_id").distinct().count()
    val nc = spark.read.parquet(centroidsDir(spark, path)).count()
    val auto = Similarity.autoCells(n, floorCells).toLong
    Seq((n, nc, auto)).toDF("n_vectors", "n_cells", "auto_cells")
      .withColumn("dilution",
        round(col("auto_cells").cast("double") / col("n_cells"), 4))
  }

  /** Self-REBUILD from the store's own raw flavor: the live, masked
    * postings are the corpus (vec_id, vector, metadata — upserts
    * resolved to their newest version, deletions dropped), so a store
    * that has drifted past its cell budget re-trains WITHOUT the
    * original source table: fresh autoCells centroids, fresh
    * assignment, every co-located flavor (raw / PQ / SQ) rewritten from
    * the one corpus read, tombstones retired by construction. Only
    * possible when `postings/` exists — the codes flavors are lossy
    * (a PQ/SQ-only store's rebuild needs the source corpus; that is the
    * price of not storing raw vectors, stated at [[saveIvfPq]]).
    *
    * CODING-PRESERVING: the rebuild re-invokes the saves with the
    * store's OWN recorded configuration (the `meta`/`sq_meta`/`ivf_meta`
    * markers: trained, residual, nSub, nCode, trainIters, AND the
    * flat-vs-two-level assignment mode — a flat-built store rebuilt
    * two-level past [[Similarity.twoLevelMinCells]] routes whole
    * families off-macro, measured recall 0.0 on the 1000× family
    * fixture) — the raw flavor is the training corpus, so nothing else
    * is needed. The
    * alternative (re-seeding with defaults) is a measured recall
    * collapse on clustered corpora (residual-PQ ADC 0.79 → absolute-
    * seeded ~0.07 at 1000×, BENCH_r12_tiers) that [[maintain]]'s cron
    * loop would trigger silently. Only the CELL budget resets — fresh
    * autoCells over the live corpus is the dilution fix that motivated
    * the rebuild.
    * READER-SAFE: the fresh store is built in a staging directory under
    * the store root (invisible to the generation listing), then every
    * kind — quantizers included — is renamed into a `<kind>_v<n>`
    * generation and published by ONE store-level `commit_v<n>` marker
    * (single atomic file create). Until that instant every reader
    * resolves the old generations; after it, all kinds flip together —
    * no window where a plan can mix new centroids with old postings. A
    * serve PLANNED before the flip executes to completion against the
    * previous generation, which stays on disk as the grace generation
    * (the [[compact]] contract; ServeBench's `race_rebuild` row pins
    * checksum equality with the quiet serve at 100×).
    * Tombstones are NOT cleared (deleting them would break plans that
    * pinned their files): the rebuilt rows carry a freshly-bumped
    * `ins_seq` that outranks every existing `del_seq`, so the surviving
    * tombstones mask nothing and the next compaction consumes them.
    *
    * WRITE contract: READS are safe throughout, and the rebuild is a
    * MUTATION sharing the store's single-writer contract — but the
    * window is ENFORCED, not honor-system: the mutation counter and
    * committed-generation set are snapshotted when the corpus is read
    * and re-verified immediately before the commit-marker create
    * ([[verifyUnmoved]]); an append/upsert/delete/compaction landing
    * in between aborts the rebuild LOUDLY with the staged output
    * discarded and the store unchanged — the racing mutation is never
    * silently absent from a published generation.
    */
  def rebuild(spark: SparkSession, path: String): Unit =
    rebuild(spark, path, () => ())

  /** Test seam: `midHook` runs after the staged build, immediately
    * before the publish-time conflict re-check — the specs inject a
    * racing mutation there to pin the loud-abort contract.
    */
  private[graft] def rebuild(spark: SparkSession, path: String,
                             midHook: () => Unit): Unit =
    Lease.withLease(spark, path, "rebuild") {
    import Ckpt.CutOps
    val snap = snapshotStore(spark, path)
    require(hasLive(spark, path, PostingsKind),
      s"self-rebuild needs the raw-vector flavor at $path — a codes-only " +
        "store must be rebuilt from the source corpus via rebuildFrom " +
        "(the reader-safe, coding-preserving re-grid; a bare save* " +
        "overwrites generations in place under live readers)")
    // ONE live-dir resolution + ONE mergeSchema read serve both the
    // corpus relation and the stored-metadata column set (each
    // mergeSchema read sweeps every data-file footer — doubled, it was
    // the rebuild's dominant driver-side cost, and at object-store scale
    // each sweep is one round-trip per file)
    val liveDirPath = liveDir(spark, path, PostingsKind)
    val stored = spark.read.option("mergeSchema", "true").parquet(liveDirPath)
    val live = Tombstones.mask(stored, Tombstones.readAll(spark, path),
      "vec_id")
    val meta = stored.schema.map(_.name).filterNot(postingsCore.contains)
    val corpus = live
      .select((Seq(col("vec_id"), col("v").as("embedding")) ++
        meta.map(col)): _*)
      .lineageCut // one materialized read feeds the saves' many passes
    stagedRebuild(spark, path, corpus, meta, withRaw = true, snap, midHook)
  }

  /** REBUILD from an EXTERNAL source corpus — the codes-only twin of
    * [[rebuild]]. A PQ/SQ-only store has no raw flavor to read its
    * corpus back from (the price of not storing raw vectors, stated at
    * [[saveIvfPq]]); this is the API that pays it: the same reader-safe
    * staged publish as [[rebuild]] (a bare save* over the old path
    * retires generations and overwrites IN PLACE — a serve planned
    * mid-save can hit deleted files, the exact failure the staged flip
    * exists to prevent), the build config read from the store's own
    * markers instead of the caller's memory of it, and a mutation
    * counter that stays monotonic (the republished rows outrank every
    * surviving tombstone; save* instead resets history). Also valid on
    * a raw-flavored store whose owner wants to re-grid onto a
    * refreshed corpus snapshot without losing reader safety. `corpus`
    * must carry (vec_id, embedding) plus every metadata column the
    * store was built with; the store keeps its flavor shape (no raw
    * flavor is created where none existed).
    *
    * DELETIONS ARE NOT REPLAYED: the supplied corpus is authoritative —
    * republished rows outrank every surviving tombstone by
    * construction, so a row previously deleted from the store is
    * RESURRECTED if the corpus still contains it. The corpus must
    * already exclude deleted rows (anti-join it against your deletion
    * ledger first, as `ann_ivfpq_rebuilt_from` does) — this matters
    * doubly on the [[maintain]]`(rebuildWith)` cron path, where a stale
    * corpus snapshot would quietly undo every delete since it was
    * taken.
    */
  def rebuildFrom(spark: SparkSession, path: String,
                  corpus: DataFrame): Unit =
    rebuildFrom(spark, path, corpus, () => ())

  /** Test seam — see [[rebuild]]'s `midHook`. */
  private[graft] def rebuildFrom(spark: SparkSession, path: String,
                                 corpus: DataFrame,
                                 midHook: () => Unit): Unit =
    Lease.withLease(spark, path, "rebuildFrom") {
    import Ckpt.CutOps
    val snap = snapshotStore(spark, path)
    val kind = primaryKind(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no committed store at $path"))
    val core = Map(PostingsKind -> postingsCore, PqCodesKind -> pqCodesCore,
      SqCodesKind -> sqCodesCore)(kind)
    val meta = storedMetaCols(spark, liveDir(spark, path, kind), core)
    val missing = meta.filterNot(corpus.columns.contains)
    require(missing.isEmpty,
      s"rebuildFrom corpus lacks the store's metadata column(s) " +
        s"${missing.mkString(", ")} — a store rebuilt without them " +
        "would silently never match a filtered serve")
    val cut = corpus
      .select((Seq(col("vec_id"), col("embedding")) ++ meta.map(col)): _*)
      .lineageCut
    // RESURRECTION guard (deletions are not replayed — see scaladoc): a
    // corpus snapshot that still contains ids the store has tombstoned
    // will republish them outranking every tombstone. Legitimate when
    // the id was upserted (deleted-then-re-added) after the snapshot's
    // cut — silent data-loss-undo when the snapshot simply predates the
    // delete — so the mismatch warns LOUDLY instead of failing: one
    // broadcast semi-join count over the already-checkpointed corpus
    // (the tombstone side is delete-bounded), next to free beside the
    // corpus-scale rebuild itself.
    Tombstones.readAll(spark, path).foreach { t =>
      val resurrected = cut.join(
        broadcast(t.select("vec_id").distinct()), Seq("vec_id"), "left_semi")
        .count()
      if (resurrected > 0)
        System.err.println(s"[graft.Index] WARNING: rebuildFrom corpus " +
          s"for $path contains $resurrected id(s) the store has " +
          "tombstoned — rebuildFrom does NOT replay deletions, so these " +
          "rows will be RESURRECTED in the published generations. If " +
          "they were deleted (not upserted) after this corpus snapshot " +
          "was taken, anti-join the corpus against your deletion ledger " +
          "and re-run.")
    }
    stagedRebuild(spark, path, cut, meta, withRaw = kind == PostingsKind,
      snap, midHook)
  }

  /** The shared staged-rebuild machinery behind [[rebuild]] and
    * [[rebuildFrom]]: stage every flavor in the store's own recorded
    * configuration through ONE [[buildStore]] pass (one assignment feeds
    * every flavor), stamp past the tombstones, publish atomically.
    * `corpus` columns: (vec_id, embedding, meta…), already lineage-cut.
    */
  private def stagedRebuild(spark: SparkSession, path: String,
                            corpus: DataFrame, meta: Seq[String],
                            withRaw: Boolean, snap: StoreSnapshot,
                            midHook: () => Unit): Unit = {
    val hadPq = hasLive(spark, path, PqCodesKind)
    val hadSq = hasLive(spark, path, SqCodesKind)
    // read every flavor's build config BEFORE any marker is rewritten
    // (`m` caches the rows, so the resolvers below see the same ones)
    val m = new Markers(spark, path)
    val pqMeta = buildMetaOf(m.pq)
    val sqMeta = buildMetaOf(m.sq)
    // the coarse geometry — centroid training AND the assignment mode —
    // belongs to whichever marker owns it (PQ, else SQ, else IVF): a
    // flat-built store re-assigned two-level would route whole families
    // off-macro (measured recall 0.0 on the 1000x family fixture,
    // SCALING.md), and every staged flavor shares the one assignment
    val geo =
      if (hadPq) pqMeta
      else if (hadSq) sqMeta
      else buildMetaOf(m.ivf)
    // the mrl_meta marker is build-shape-only and stays in place
    val mrl = if (hasLive(spark, path, MrlCodesKind)) Seq(mrlOf(m)) else Nil
    // rows republished under surviving tombstones must outrank them
    val stampSeq = Tombstones.nextSeq(spark, path)
    // a mutation that slipped in between the caller's snapshot and this
    // bump already raced the corpus read — abort BEFORE paying for the
    // staged build, same contract as the publish-time check
    if (stampSeq != snap.seq + 1)
      abortRaced(spark, path, s"$path/_rebuild_stage", "rebuild",
        s"the store's mutation counter moved ${snap.seq} -> " +
          s"${stampSeq - 1} between the corpus snapshot and the rebuild " +
          "stamp")
    val stage = s"$path/_rebuild_stage"
    locally { // a crashed rebuild's leftover stage is dead weight
      val sp = new org.apache.hadoop.fs.Path(stage)
      val fs = fsOf(spark, sp)
      if (fs.exists(sp)) { fs.delete(sp, true); () }
    }
    if (hadSq && (hadPq || withRaw)) {
      // a combined store's sq_meta marker is updated IN PLACE at the real
      // path (markers are coding-preserved — only the geometry ownership
      // fields can move — and serves read them eagerly at plan time, so
      // pre-planned serves are unaffected)
      import spark.implicits._
      Seq((sqMeta.residual, geo.trained, sqMeta.trainIters, geo.flat))
        .toDF("residual", "trained", "train_iters", "flat")
        .write.mode("overwrite").parquet(sqMetaPath(path))
    }
    // only the cell budget resets (fresh autoCells over the live corpus);
    // the store keeps its storage shape: a codes-only store gets no raw
    // flavor, and an MRL store (always raw-flavored) re-slices from the
    // staged postings at its recorded width and coding
    buildStore(corpus, stage, nCells = 16, trained = geo.trained,
      trainIters = geo.trainIters, forceFlat = geo.flat,
      superProbe = Similarity.defaultSuperProbe, metaCols = meta,
      insSeq = stampSeq) { (a, cents) =>
      (if (hadPq) Seq(pqOf(m, pqCodebook(corpus, stage, a, cents,
        pqMeta.nSub, pqMeta.nCode, pqMeta.trained, pqMeta.trainIters,
        pqMeta.residual))) else Nil) ++
        (if (withRaw) Seq(Raw) else Nil) ++
        (if (hadSq) Seq(sqOf(m)) else Nil) ++ mrl
    }
    midHook()
    // the conflict fence: everything above read a snapshot of the store;
    // verify no mutation landed since, BEFORE the atomic flip — at 100 TB
    // the staged build above is hours long and "quiesce mutators" without
    // enforcement is how production stores silently lose writes
    verifyUnmoved(spark, path, snap, stampSeq, stage, "rebuild")
    publishStage(spark, path, stage, recheck = Some((snap, stampSeq)))
  }

  /** Flip a staged rebuild live: rename every staged kind into the next
    * generation number (shared across kinds), commit them all with ONE
    * `commit_v<n>` marker file, then retire everything older than the
    * grace generation a pre-planned serve may still read from. Per-dir
    * `_SUCCESS` markers are stripped before the renames — a staged dir
    * must not self-commit ahead of its siblings, or a plan built
    * between renames would mix generations of different kinds.
    *
    * `recheck = Some((snap, stampSeq))` re-verifies the conflict fence
    * IMMEDIATELY before the commit-marker create — after the renames,
    * which can take real time on an object store. A mutation landing
    * between [[verifyUnmoved]] and the flip would otherwise be silently
    * absent from the published generations; at this point the renamed
    * dirs are still uncommitted (marker-less — no reader selects them),
    * so aborting only needs to delete them and the store is unchanged.
    * The residual window is the single marker create itself; the
    * [[Lease]] closes it for every API writer (a mutator cannot even
    * start while the rebuild holds the lease), leaving this recheck as
    * defense-in-depth against lease-bypassing writers.
    */
  private[graft] def publishStage(spark: SparkSession, path: String,
                           stage: String,
                           recheck: Option[(StoreSnapshot, Long)] = None)
      : Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = fsOf(spark, root)
    val kinds = AllKinds.filter(k => fs.exists(new Path(s"$stage/$k")))
    // the pre-flip live generation per kind — kept as the grace window
    val prevLive: Map[String, Option[Path]] = kinds.map { k =>
      k -> generations(spark, path, k)
        .filter { case (_, p) => isCommitted(spark, p) }
        .sortBy(_._1).lastOption.map(_._2)
    }.toMap
    val n = 1 + kinds.flatMap(k => generations(spark, path, k).map(_._1))
      .foldLeft(0)(math.max)
    kinds.foreach { k =>
      fs.delete(new Path(s"$stage/$k/_SUCCESS"), false)
      require(fs.rename(new Path(s"$stage/$k"), new Path(s"$path/${k}_v$n")),
        s"rebuild publish: rename of $k into generation v$n failed at $path")
    }
    // last-instant fence re-check (see scaladoc): the renamed dirs are
    // uncommitted, so aborting here deletes them and nothing else moved
    recheck.foreach { case (snap, stampSeq) =>
      val seqNow = Tombstones.currentSeq(spark, path)
      val gensNow = snapshotStore(spark, path).gens
      if (seqNow != stampSeq || gensNow != snap.gens) {
        kinds.foreach { k =>
          fs.delete(new Path(s"$path/${k}_v$n"), true); ()
        }
        abortRaced(spark, path, stage, "rebuild",
          s"the store's mutation counter moved $stampSeq -> $seqNow (or " +
            "a compaction flipped a generation) between the staged " +
            "renames and the commit-marker create")
      }
    }
    fs.create(new Path(root, s"commit_v$n")).close() // THE atomic flip
    kinds.foreach { k =>
      val keep = Set(s"${k}_v$n") ++ prevLive(k).map(_.getName)
      generations(spark, path, k).foreach { case (_, p) =>
        if (!keep.contains(p.getName)) { fs.delete(p, true); () }
      }
    }
    pruneCommits(spark, path, Set(n.toString) ++ prevLive.values.flatten
      .map(_.getName).filter(_.contains("_v"))
      .map(nm => nm.substring(nm.lastIndexOf("_v") + 2)))
    fs.delete(new Path(stage), true); ()
  }

  /** The MAINTENANCE decision, closed over the three measured signals:
    *   - cell-budget dilution ([[stats]]) past `maxDilution` → a raw
    *     flavor permits [[rebuild]] (fresh cells, purge included); a
    *     codes-only store re-grids via [[rebuildFrom]] when the caller
    *     supplies `rebuildWith`, else reports `"rebuild-needed"` (the
    *     [[LexIndex.maintain]] contract) instead of silently skipping;
    *   - dead-version mass ([[deleteStats]]) past `maxMaskedFrac`, or
    *     per-cell fragmentation past `maxFilesPerCell` → [[compact]];
    *   - otherwise no action.
    * Returns what it did ("rebuild" | "compact" | "none") so an
    * operator's cron can log it. This is the loop the stats hooks exist
    * for — SCALING.md's rebuild/fragmentation/deletion sections price
    * each branch's cost and payoff at 100×/1000×.
    */
  def maintain(spark: SparkSession, path: String,
               maxDilution: Double = 2.0,
               maxMaskedFrac: Double = 0.2,
               maxFilesPerCell: Double = 8.0,
               rebuildWith: Option[DataFrame] = None,
               vacuumKeep: Option[Int] = None): String =
    maintainReport(spark, path, maxDilution, maxMaskedFrac,
      maxFilesPerCell, rebuildWith, vacuumKeep).head().getString(0)

  /** [[maintain]] with its EVIDENCE: the decision inputs are measured
    * anyway, and a cron operator that only sees "none"/"compact" cannot
    * alert on trend — dilution creeping toward the threshold, dead mass
    * accumulating, fragmentation growing — until the action fires. One
    * row, all inputs measured BEFORE the action runs:
    * (action, n_vectors, n_cells, auto_cells, dilution, masked_frac,
    * files_per_cell).
    *
    * `rebuildWith` precedence: a caller-supplied corpus snapshot wins
    * the dilution branch EVEN ON a raw-flavored store — supplying it
    * means "re-grid onto this refreshed corpus", and silently
    * self-rebuilding from the stale stored snapshot instead would
    * discard the refresh with no indication. Note [[rebuildFrom]]'s
    * deletion caveat: the supplied corpus must already exclude deleted
    * rows. Without `rebuildWith`, a raw flavor self-rebuilds and a
    * codes-only store reports `"rebuild-needed"`.
    *
    * `vacuumKeep = Some(n)` additionally runs [[vacuum]]`(path, n)`
    * AFTER whatever action fired — the cron shape for reclaiming
    * superseded generations without a second scheduled job. Explicitly
    * opt-in because the keep count carries the grace-window contract
    * (`n = 2` is safe whenever compaction is; `n = 1` only after
    * pre-flip plans have drained). The action string is unchanged.
    */
  def maintainReport(spark: SparkSession, path: String,
                     maxDilution: Double = 2.0,
                     maxMaskedFrac: Double = 0.2,
                     maxFilesPerCell: Double = 8.0,
                     rebuildWith: Option[DataFrame] = None,
                     vacuumKeep: Option[Int] = None): DataFrame =
    Lease.withLease(spark, path, "maintain") {
    import spark.implicits._
    val st = stats(spark, path).head()
    val dilution = st.getDouble(3)
    val ds = deleteStats(spark, path).head()
    val maskedFrac = ds.getDouble(3)
    val kind = primaryKind(spark, path).get
    val files = countDataFiles(spark, liveDir(spark, path, kind))
    val filesPerCell = files.toDouble / math.max(1L, st.getLong(1))
    val action =
      if (dilution > maxDilution) rebuildWith match {
        case Some(corpus) => rebuildFrom(spark, path, corpus); "rebuild"
        case None if kind == PostingsKind => rebuild(spark, path); "rebuild"
        // codes-only store past the dilution threshold with no corpus
        // supplied: report the need instead of silently falling through
        case None => "rebuild-needed"
      }
      else if (maskedFrac > maxMaskedFrac || filesPerCell > maxFilesPerCell) {
        compact(spark, path); "compact"
      } else "none"
    vacuumKeep.foreach { n => vacuum(spark, path, n); () }
    Seq((action, st.getLong(0), st.getLong(1), st.getLong(2), dilution,
        maskedFrac, math.rint(filesPerCell * 10000) / 10000))
      .toDF("action", "n_vectors", "n_cells", "auto_cells", "dilution",
        "masked_frac", "files_per_cell")
  }

  /** The operator CRON SHAPE — one scheduled call per store per
    * maintenance window: acquire the [[Lease]] (so the tick can never
    * interleave with an out-of-band mutator — a second tick, a manual
    * rebuild, a stray append all fail loudly at acquisition), run
    * [[maintainReport]]'s measured decision + action, then [[vacuum]]
    * superseded generations, all under ONE lease window. Returns the
    * evidence row extended with the vacuum's result:
    * (action, n_vectors, n_cells, auto_cells, dilution, masked_frac,
    * files_per_cell, generations_removed, bytes_reclaimed).
    *
    * `vacuumKeep` defaults to 2 — the standard one-flip grace window,
    * safe whenever [[compact]] itself is (pre-tick plans keep
    * executing). Schedule with `vacuumKeep = 1` only in a window where
    * every serve planned before the previous flip has drained.
    * SCALING.md's maintenance-loop section prices the branches.
    */
  def maintenanceTick(spark: SparkSession, path: String,
                      maxDilution: Double = 2.0,
                      maxMaskedFrac: Double = 0.2,
                      maxFilesPerCell: Double = 8.0,
                      rebuildWith: Option[DataFrame] = None,
                      vacuumKeep: Int = 2): DataFrame =
    Lease.withLease(spark, path, "maintenanceTick") {
      val report = maintainReport(spark, path, maxDilution, maxMaskedFrac,
        maxFilesPerCell, rebuildWith, vacuumKeep = None)
      report.crossJoin(vacuum(spark, path, vacuumKeep))
    }

  /** Reclaim SUPERSEDED generations — the explicit end of the MVCC
    * story. Every publish ([[compact]]'s versioned flip, [[rebuild]]'s
    * staged one) retires generations older than its grace window, but a
    * store that is rebuilt once and then only APPENDED keeps its
    * superseded full-size generation forever: nothing else runs a
    * publish to retire it — a storage leak worth ~1× the store at
    * 100-TB sizes. `vacuum` deletes, per kind, every generation below
    * the newest `keepGenerations` committed ones (crashed publishes'
    * uncommitted leftovers below the live generation included), prunes
    * store-level commit markers no surviving generation needs, and
    * collapses the mutation-counter markers. All through the Hadoop FS.
    *
    * GRACE-WINDOW contract: `keepGenerations = 1` keeps ONLY the live
    * generation — correct in the maintenance window after every serve
    * planned before the last flip has drained (a parquet plan pins file
    * paths; vacuuming its generation while it still runs is the
    * FileNotFoundException the grace window exists to prevent). Serves
    * PLANNED AFTER the last flip read the live generation and are safe
    * throughout. `keepGenerations = 2` preserves the standard one-flip
    * grace window and is safe whenever [[compact]] itself is.
    * Single-writer, like every store mutation here.
    *
    * Returns one row: (generations_removed, bytes_reclaimed).
    */
  def vacuum(spark: SparkSession, path: String,
             keepGenerations: Int = 1): DataFrame =
    Lease.withLease(spark, path, "vacuum") {
    require(keepGenerations >= 1, "must keep at least the live generation")
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = fsOf(spark, root)
    def treeBytes(p: Path): Long = {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) n += it.next().getLen
      n
    }
    var dirsRemoved = 0L
    var bytes = 0L
    val keptVers = scala.collection.mutable.Set[String]()
    AllKinds.foreach { k =>
      val gens = generations(spark, path, k)
      val committed = gens.filter { case (_, p) => isCommitted(spark, p) }
        .sortBy(-_._1)
      if (committed.nonEmpty) {
        val keep = committed.take(keepGenerations)
        keptVers ++= keep.map(_._1.toString)
        val liveVer = committed.head._1
        val keepNames = keep.map(_._2.getName).toSet
        gens.foreach { case (v, p) =>
          // also drops crashed publishes' uncommitted leftovers — but
          // only BELOW the live generation: an uncommitted dir above it
          // could be an in-flight staged publish under a violated
          // single-writer contract, and deleting it buys nothing
          if (v < liveVer && !keepNames.contains(p.getName)) {
            bytes += treeBytes(p)
            dirsRemoved += 1
            fs.delete(p, true); ()
          }
        }
      }
    }
    bytes += pruneCommits(spark, path, keptVers.toSet)
    Tombstones.collapseSeq(spark, path)
    Seq((dirsRemoved, bytes)).toDF("generations_removed", "bytes_reclaimed")
  }

  /** DuckDB count-formula oracle for [[maintainReport]] over the
    * standard degraded-store fixture (built on `baseWhereSql` at
    * `nCellsBuilt` cells, appended with the rest, `deletedWhereSql`
    * tombstoned, maintain → rebuild) plus the post-rebuild [[stats]]:
    * every decision input is a pure formula — the physical file count
    * included, because each save/append writes exactly one file per
    * assigned-to cell (`repartition(cell)`), so files = distinct build
    * cells + distinct append cells under the replayed flat assignment.
    */
  /** `extraColsSql`: appended verbatim to the SELECT list — the
    * [[maintenanceTick]] oracle adds its count-formula
    * `generations_removed` column this way.
    */
  def maintainOracleSql(nCellsBuilt: Int, baseWhereSql: String,
                        deletedWhereSql: String,
                        floorCells: Int = 16,
                        extraColsSql: String = ""): String =
    s"""WITH ${Similarity.cellCtesSql(nCellsBuilt,
           centroidWhereSql = baseWhereSql)},
       |assigned AS (SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1),
       |vals AS (SELECT
       |  (SELECT count(*) FROM embeddings
       |   WHERE NOT ($deletedWhereSql))::BIGINT AS n_vectors,
       |  ${nCellsBuilt}::BIGINT AS n_cells,
       |  GREATEST($floorCells, (SELECT count(*) FROM embeddings
       |    WHERE NOT ($deletedWhereSql)) // 5000)::BIGINT AS auto_cells,
       |  (SELECT count(*) FROM embeddings)::BIGINT AS n_total,
       |  (SELECT count(*) FROM embeddings
       |   WHERE $deletedWhereSql)::BIGINT AS n_masked,
       |  ((SELECT count(DISTINCT cell) FROM assigned WHERE $baseWhereSql)
       |   + (SELECT count(DISTINCT cell) FROM assigned
       |      WHERE NOT ($baseWhereSql)))::BIGINT AS n_files)
       |SELECT 'rebuild' AS action, n_vectors, n_cells, auto_cells,
       |  round(auto_cells::DOUBLE / n_cells, 4) AS dilution,
       |  round(n_masked::DOUBLE / n_total, 4) AS masked_frac,
       |  round(n_files::DOUBLE / n_cells, 4) AS files_per_cell,
       |  n_vectors AS post_n_vectors,
       |  auto_cells AS post_n_cells,
       |  auto_cells AS post_auto_cells,
       |  1.0::DOUBLE AS post_dilution$extraColsSql
       |FROM vals""".stripMargin

  /** DuckDB oracle for [[ivfMrlRerankTopKIndexed]]: the shared flat
    * cell CTEs (full-dimension probes), a prefix-cosine shortlist over
    * the probed cells' truncated vectors, then the exact full-width
    * refine — the prefix-then-refine replay. `rerank <= 0` resolves
    * through the same [[Similarity.autoRerank]] rule as the serve.
    */
  def ivfMrlRerankTopKOracleSql(k: Int, dims: Int, rerank: Int = 0,
                                nCells: Int = 16, nProbe: Int = 4,
                                isQuerySql: String =
                                  Similarity.defaultIsQuerySql,
                                candWhereSql: String = "TRUE",
                                centroidWhereSql: String = "TRUE",
                                embExprSql: String = "embedding"): String =
    s"""WITH ${Similarity.cellCtesSql(nCells,
           centroidWhereSql = centroidWhereSql,
           embExprSql = embExprSql)},
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell
       |  FROM ranks WHERE rnk <= $nProbe AND $isQuerySql),
       |pe AS (
       |  SELECT vec_id, (($embExprSql)::DOUBLE[])[1:$dims] AS pv,
       |         sqrt(list_dot_product((($embExprSql)::DOUBLE[])[1:$dims],
       |                               (($embExprSql)::DOUBLE[])[1:$dims])) AS pn
       |  FROM embeddings),
       |qp AS (SELECT vec_id AS query_id, pv AS qpv, pn AS qpn
       |       FROM pe WHERE $isQuerySql),
       |prescored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         round(${Similarity.safeCosineSql(
                  "list_dot_product(x.pv, qp.qpv)", "x.pn", "qp.qpn")}, 6)
       |           AS pcos
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.cell
       |  JOIN pe x ON x.vec_id = a.vec_id
       |  JOIN qp ON qp.query_id = p.query_id
       |  WHERE a.vec_id != p.query_id
       |    AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE $candWhereSql)),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |              ORDER BY pcos DESC, neighbor_id) AS srank
       |    FROM prescored)
       |  WHERE srank <= ${Similarity.autoRerank(k, rerank)}),
       |qq AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e
       |       WHERE $isQuerySql),
       |refined AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         round(${Similarity.safeCosineSql(
                  "list_dot_product(e.v, qq.qv)", "e.norm", "qq.qnorm")}, 6)
       |           AS cosine
       |  FROM short s
       |  JOIN e ON e.vec_id = s.neighbor_id
       |  JOIN qq ON qq.query_id = s.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM refined)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked
       |WHERE rank <= $k""".stripMargin

  /** DuckDB oracle for the QUANTIZED MRL serve (`saveIvfMrl(quantized =
    * true)` → [[ivfMrlRerankTopKIndexed]]): the prefix slice is int8-
    * quantized with [[Similarity.int8TopK]]'s exact conventions, the
    * shortlist ranks by the integer code dot × the candidate's rescale
    * factor (exact in double — products and sums of |q| ≤ 127 integers
    * stay far under 2^53), and the refine is the same exact full-width
    * cosine as the raw-prefix oracle. `rerank <= 0` resolves through
    * [[Similarity.autoRerank]].
    */
  def ivfMrlSqRerankTopKOracleSql(k: Int, dims: Int, rerank: Int = 0,
                                  nCells: Int = 16, nProbe: Int = 4,
                                  isQuerySql: String =
                                    Similarity.defaultIsQuerySql,
                                  candWhereSql: String = "TRUE",
                                  centroidWhereSql: String = "TRUE",
                                  embExprSql: String = "embedding"): String =
    s"""WITH ${Similarity.cellCtesSql(nCells,
           centroidWhereSql = centroidWhereSql,
           embExprSql = embExprSql)},
       |assigned AS (
       |  SELECT vec_id, cid AS cell FROM ranks WHERE rnk = 1),
       |probes AS (
       |  SELECT vec_id AS query_id, cid AS cell
       |  FROM ranks WHERE rnk <= $nProbe AND $isQuerySql),
       |pe0 AS (
       |  SELECT vec_id, (($embExprSql)::DOUBLE[])[1:$dims] AS pv
       |  FROM embeddings),
       |pe1 AS (
       |  SELECT vec_id, pv, sqrt(list_dot_product(pv, pv)) AS pn,
       |         list_max(list_transform(pv, x -> abs(x))) AS scale
       |  FROM pe0),
       |pe AS (
       |  SELECT vec_id,
       |         list_transform(pv, x -> floor(x * 127.0 /
       |           (CASE WHEN scale = 0 THEN 1.0 ELSE scale END) + 0.5)) AS qb,
       |         round(CASE WHEN pn = 0 THEN 0.0 ELSE scale / pn END, 9) AS r
       |  FROM pe1),
       |qp AS (SELECT vec_id AS query_id, qb AS qqb FROM pe
       |       WHERE $isQuerySql),
       |prescored AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |         list_dot_product(x.qb, qp.qqb) * x.r AS pscore
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.cell
       |  JOIN pe x ON x.vec_id = a.vec_id
       |  JOIN qp ON qp.query_id = p.query_id
       |  WHERE a.vec_id != p.query_id
       |    AND a.vec_id IN (SELECT vec_id FROM embeddings WHERE $candWhereSql)),
       |short AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |              ORDER BY pscore DESC, neighbor_id) AS srank
       |    FROM prescored)
       |  WHERE srank <= ${Similarity.autoRerank(k, rerank)}),
       |qq AS (SELECT vec_id AS query_id, v AS qv, norm AS qnorm FROM e
       |       WHERE $isQuerySql),
       |refined AS (
       |  SELECT s.query_id, s.neighbor_id,
       |         round(${Similarity.safeCosineSql(
                  "list_dot_product(e.v, qq.qv)", "e.norm", "qq.qnorm")}, 6)
       |           AS cosine
       |  FROM short s
       |  JOIN e ON e.vec_id = s.neighbor_id
       |  JOIN qq ON qq.query_id = s.query_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |            ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM refined)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked
       |WHERE rank <= $k""".stripMargin

  /** Parquet data files under `dir`, counted through the Hadoop
    * FileSystem like every other store touch. A `java.io.File` walk here
    * would silently return 0 on HDFS/S3/abfs stores — exactly the
    * deployments whose fragmentation matters — so the [[maintain]]
    * compaction trigger would never fire, with no error. Recursive: the
    * data dirs nest one partition level (cell=…/bucket=…).
    */
  private[graft] def countDataFiles(spark: SparkSession, dir: String): Long = {
    import org.apache.hadoop.fs.Path
    val p = new Path(dir)
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
  }

  /** The distinct cells a query batch would probe — the measurement hook
    * for the pruning story (|probed| vs |cells| is the fraction of the
    * store a serve actually reads).
    */
  def probeCells(spark: SparkSession, path: String, queries: DataFrame,
                 nProbe: Int = 4): Array[Long] =
    probeSet(spark, path, queries, nProbe).cells

  /** TIME-TRAVEL candidate bound: restrict a serve's candidate rows to
    * those inserted at or before `asOfSeq` (build rows are seq 0, every
    * append/upsert stamps the mutation counter's value — the
    * [[Tombstones]] ordering contract). Stores predating the `ins_seq`
    * column hold only build rows, which every bound admits; a null
    * `ins_seq` inside a stamped store means the same (seq 0), hence the
    * explicit `isNull` arm — written as a bare-column OR rather than
    * `coalesce(ins_seq, 0) <= s` because parquet filter conversion
    * handles `Or(LessThanOrEqual, IsNull)` but not expressions over
    * coalesce: the bound must land in the scan's PushedFilters (PlanSpec
    * pins it), not in a post-scan filter over every probed row.
    */
  private def asOfCandidates(df: DataFrame,
                             asOfSeq: Option[Long]): DataFrame =
    asOfSeq.fold(df) { s =>
      require(s >= 0L, s"asOfSeq must be >= 0 (got $s); 0 is the build")
      if (df.columns.contains("ins_seq"))
        df.where(col("ins_seq") <= s || col("ins_seq").isNull)
      else df
    }

  /** The tombstone set visible at `asOfSeq`: deletes stamped AFTER the
    * bound have not happened yet in the travelled-to state and must not
    * mask anything. `None` = the current serve's full set.
    */
  private def asOfTombstones(spark: SparkSession, path: String,
                             asOfSeq: Option[Long]): Option[DataFrame] =
    Tombstones.readAll(spark, path).map { t =>
      asOfSeq.fold(t)(s => t.where(col("del_seq") <= s))
    }

  /** Answer a query batch from a stored IVF-Flat index: rank cells
    * against the stored centroids, read ONLY the probed posting
    * partitions, exact-cosine the candidates, top-k. `queries` carries
    * (vec_id, embedding); a stored vector with the same vec_id is
    * excluded from its own result (the inline self-exclusion contract).
    * Output: (query_id, neighbor_id, cosine, rank) — bit-equal to
    * [[Similarity.ivfTopK]] at every flat-assignment corpus.
    *
    * `candWhere` is FILTERED vector search (the label/language/tenant
    * predicate every production store supports): candidates failing the
    * predicate are cut BEFORE ranking, so the result is the true top-k
    * AMONG matches — not a rank-then-filter that can return fewer than k
    * while matches exist. The predicate references postings columns, so
    * it lands in the parquet scan next to the partition prune
    * (PushedFilters; metadata columns persist via [[saveIvf]]'s
    * `metaCols`) — at a 1% selectivity the serve reads 1% of the probed
    * postings bytes instead of filtering after a full candidate join.
    *
    * `asOfSeq` is a TIME-TRAVEL read (the Delta/Iceberg `VERSION AS OF`
    * shape on the store's own mutation counter): the serve answers from
    * the store state as of that sequence value — appended/upserted rows
    * stamped later are not candidates, tombstones stamped later do not
    * mask. `Some(0)` reads the build-time corpus; `None` (default) is
    * the current serve. The bound is two pushed predicates (`ins_seq`,
    * `del_seq`) over the already probe-pruned scan — zero extra reads,
    * zero extra shuffles, so a travelled serve costs what the current
    * serve costs at any corpus size. Reproducibility contract, not an
    * archive: a COMPACTION physically purges rows whose tombstone it
    * consumed and a REBUILD re-stamps every surviving row at its own
    * seq, so states older than the last compaction/rebuild have
    * collapsed to the collapse point (exactly Delta's
    * OPTIMIZE/VACUUM-bounded travel horizon) — pin serving states you
    * must reproduce by vacuum retention, as with any MVCC table.
    */
  def ivfTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                     k: Int, nProbe: Int = 4,
                     candWhere: Column = lit(true),
                     asOfSeq: Option[Long] = None): DataFrame =
    serve(spark, path, queries, k, nProbe, candWhere, asOfSeq)(_ => Raw)

  /** Answer a query batch from a stored IVF-PQ index: probed-cell code
    * partitions only, per-query ADC lookup table over the stored
    * codebook, integer-exact distance sum — no raw corpus vector is read.
    * Output: (query_id, neighbor_id, adc_e9, rank) — bit-equal to
    * [[Similarity.ivfPqTopK]] at every flat-assignment corpus.
    */
  def ivfPqTopKIndexed(spark: SparkSession, path: String, queries: DataFrame,
                       k: Int, nProbe: Int = 4,
                       candWhere: Column = lit(true)): DataFrame =
    serve(spark, path, queries, k, nProbe, candWhere)(livePq(spark, path))

  /** [[pqOf]] against the store's live codebook — the PQ serves' and
    * [[appendIvfPq]]'s codec.
    */
  private def livePq(spark: SparkSession, path: String)(m: Markers): Pq =
    pqOf(m, spark.read.parquet(codewordsDir(spark, path)))

  /** The production compressed-serve shape on the PERSISTED store (cf.
    * FAISS IndexIVFPQ + IndexRefineFlat; inline eval twin:
    * [[Similarity.ivfPqRerankTopK]]): the ADC scan shortlists `rerank`
    * candidates per query from the stored `pq_codes/` alone (probed-cell
    * partitions, no raw vector read), then ONLY those candidates' full
    * vectors are fetched from the CO-LOCATED `postings/` flavor
    * ([[saveIvfPq]] `withRaw`) and scored with the exact cosine.
    *
    * Scale shape: the refine reads raw vectors only from the probed cell
    * directories and inner-joins them to the broadcast shortlist —
    * nq·rerank rows, a QUERY-side bound — so the full-precision corpus
    * is pruned twice (partition prune, then the semi-join) and the
    * refine cost is independent of corpus size. Output matches
    * [[ivfTopKIndexed]] (query_id, neighbor_id, cosine, rank), bit-equal
    * to the inline rerank at every flat-assignment corpus.
    */
  def ivfPqRerankTopKIndexed(spark: SparkSession, path: String,
                             queries: DataFrame, k: Int, rerank: Int = 0,
                             nProbe: Int = 4,
                             candWhere: Column = lit(true)): DataFrame =
    // rerank <= 0 resolves to the measured max(10·k, 40) depth rule
    // ([[Similarity.autoRerank]]): the old fixed 4·k default served
    // recall@10 = 0.49 on the separation-free jitter corpus while 10·k
    // recovers 1.0 at flat cost — the shortlist is query-bounded either
    // way, so the deeper default buys recall for ~nothing
    serve(spark, path, queries, k, nProbe, candWhere,
      rerank = Some(Similarity.autoRerank(k, rerank)))(livePq(spark, path))

  /** SQ8 shortlist + exact refine — the SQ tier's deployment
    * composition ([[ivfPqRerankTopKIndexed]]'s shape with the SQ
    * ranking as the shortlist stage). The shortlist goes through the
    * same coding-aware kernel as the plain serve ([[scoreKernel]]), so a
    * residual store shortlists by its dequantized cosine — never by the
    * absolute integer dot over residual-coded bytes. Where the int8
    * resolution limit blurs within-family order (SCALING.md round 12's
    * tier matrix), the refine restores it at nq·rerank raw-vector reads.
    */
  def ivfSqRerankTopKIndexed(spark: SparkSession, path: String,
                             queries: DataFrame, k: Int, rerank: Int = 0,
                             nProbe: Int = 4,
                             candWhere: Column = lit(true)): DataFrame =
    // rerank <= 0 → max(10·k, 40) ([[Similarity.autoRerank]]; measured
    // rationale at [[ivfPqRerankTopKIndexed]])
    serve(spark, path, queries, k, nProbe, candWhere,
      rerank = Some(Similarity.autoRerank(k, rerank)))(sqOf)

  /** THE persisted read path — every serve above is this with its
    * flavor's `codec` (a resolver over the store's markers: [[pqOf]],
    * [[sqOf]], [[mrlOf]], or the raw flavor):
    *   1. probe: rank the stored centroids per query ([[probeSet]]);
    *   2. candidates: the probed cells' rows of the flavor's kind, the
    *      filters pushed into the scan, tombstones masked
    *      ([[candidates]]);
    *   3. score: the flavor's kernel ([[scoreKernel]]);
    *   4. top-k: [[Similarity.topK]] — ascending integer distance for
    *      PQ, descending score otherwise;
    *   5. refine (rerank serves only): the `rerank`-deep shortlist is
    *      re-scored exactly from the raw flavor ([[refineExact]]).
    * Output: (query_id, neighbor_id, cosine | adc_e9, rank).
    */
  private def serve(spark: SparkSession, path: String, queries: DataFrame,
                    k: Int, nProbe: Int, candWhere: Column,
                    asOfSeq: Option[Long] = None,
                    rerank: Option[Int] = None)
                   (codec: Markers => Enc): DataFrame = {
    val p = probeSet(spark, path, queries, nProbe)
    val enc = codec(new Markers(spark, path))
    val scored = scoreKernel(spark, path, enc,
      candidates(spark, path, enc.kind, p, candWhere, asOfSeq), p, queries)
    val depth = rerank.getOrElse(k)
    val top = enc match {
      case _: Pq =>
        Similarity.topK(scored, depth, Seq(asc("adc_e9"), asc("neighbor_id")))
      case _ => Similarity.topK(scored, depth)
    }
    rerank.fold(top)(_ =>
      refineExact(spark, path, p, top.select("query_id", "neighbor_id"), k))
  }

  /** Step 2 of [[serve]]: the probed cells' rows of `kind` — the
    * partition prune, `candWhere` and the time-travel bound all land in
    * the parquet scan — with the tombstones visible at `asOfSeq` masked
    * BEFORE ranking: a deleted row must not consume a top-k slot
    * (rank-then-filter would return short results).
    */
  private def candidates(spark: SparkSession, path: String, kind: String,
                         p: Probes, candWhere: Column,
                         asOfSeq: Option[Long]): DataFrame =
    Tombstones.mask(
      asOfCandidates(
        prunedToProbes(spark, liveDir(spark, path, kind), p.cells)
          .where(candWhere), asOfSeq),
      asOfTombstones(spark, path, asOfSeq), "vec_id")

  /** The live centroids as a (cell, cv) join table — the residual
    * kernels' subtrahend.
    */
  private def centroidTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(centroidsDir(spark, path))
      .select(col("cid").as("cell"), col("cv"))

  /** The normalized query side of every exact cosine: (query_id, qv, qnorm). */
  private def queryVecs(p: Probes): DataFrame =
    p.q.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("norm").as("qnorm"))

  /** The 6-dp exact cosine of candidate vector `x` against query `qx`. */
  private def cosine6(x: Column, xn: Column, qx: Column, qn: Column): Column =
    round(Similarity.safeCosine(VecFold.dot(x, qx), xn, qn), 6).as("cosine")

  /** Step 3 of [[serve]], the flavor's scoring kernel: every candidate
    * joined to the queries probing its cell (a stored vector never
    * answers its own query — the inline self-exclusion contract) and to
    * the query side, scored as (query_id, neighbor_id, cosine) — or
    * adc_e9 for PQ.
    *   - Raw: the exact cosine.
    *   - SQ absolute, quantized MRL: the EXACT integer code dot × the
    *     stored rescale factor, the query (prefix) coded like the stored
    *     one ([[withScale]], [[sqBytes]]). A rank-only surrogate, not a
    *     true cosine: the query-side factor is constant per query and
    *     cannot reorder, so it is rank-equal to [[Similarity.int8TopK]]
    *     restricted to the probed cells. Exact in Long (|q| ≤ 127), so
    *     order-free and bit-reproducible.
    *   - SQ residual: reconstruct x̂ = c + qb·r/127 per candidate, then
    *     the true cosine against the FLOAT query (asymmetric distance —
    *     the query is never quantized).
    *   - Raw MRL: the prefix cosine, truncated exactly as
    *     [[Similarity.matryoshkaRecall]] truncates.
    *   - PQ: the ADC lookup table — 1e9-scaled squared distance of each
    *     query subvector to each codeword, summed as exact int64s; on a
    *     residual store the table is keyed per (query, PROBED CELL) over
    *     the query's own residual against that cell's centroid
    *     (nq·nProbe·nSub·nCode entries, still query-bounded). No raw
    *     corpus vector is read.
    */
  private def scoreKernel(spark: SparkSession, path: String, enc: Enc,
                          cands: DataFrame, p: Probes,
                          queries: DataFrame): DataFrame = {
    def probed(c: DataFrame, qs: DataFrame, on: Seq[String]) =
      c.join(broadcast(p.pairs), Seq("cell"))
        .where(col("vec_id") =!= col("query_id"))
        .join(broadcast(qs), on)
    def scored(c: DataFrame, qs: DataFrame, score: Column) =
      probed(c, qs, Seq("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), score)
    def codeDot(src: DataFrame, x: String) =
      scored(cands, withScale(src, x)
          .select(col("vec_id").as("query_id"), sqBytes(x).as("qqb")),
        (VecQuant.byteDot(col("qb"), col("qqb")) * col("r")).as("cosine"))
    def prefix(dims: Int) =
      slice(col("embedding").cast("array<double>"), 1, dims)
    enc match {
      case Raw =>
        scored(cands, queryVecs(p),
          cosine6(col("v"), col("norm"), col("qv"), col("qnorm")))
      case Sq(false) => codeDot(p.q, "v")
      case Sq(true) =>
        val xhat = cands.join(broadcast(centroidTable(spark, path)), "cell")
          .withColumn("xh",
            VecQuant.reconstruct(col("cv"), col("qb"), col("r")))
        scored(xhat, queryVecs(p), cosine6(col("xh"),
          sqrt(VecFold.dot(col("xh"), col("xh"))), col("qv"), col("qnorm")))
      case Mrl(dims, true) =>
        codeDot(queries.select(col("vec_id"), prefix(dims).as("pv")), "pv")
      case Mrl(dims, false) =>
        val qp = queries.select(col("vec_id").as("query_id"),
            prefix(dims).as("qpv"))
          .withColumn("qpn", sqrt(VecFold.dot(col("qpv"), col("qpv"))))
        scored(cands, qp,
          cosine6(col("vp"), col("vpn"), col("qpv"), col("qpn")))
      case pq: Pq =>
        val dim = p.q.select(size(col("v")).as("d")).limit(1)
          .collect().headOption.map(_.getInt(0)).getOrElse(0)
        val sub = dim / pq.nSub
        val (qs, x, keys) =
          if (pq.residual)
            (p.pairs.join(broadcast(centroidTable(spark, path)), "cell")
              .join(p.q.select(col("vec_id").as("query_id"), col("v")),
                "query_id")
              .select(col("query_id"), col("cell"),
                VecQuant.sub(col("v"), col("cv")).as("rv")),
              "rv", Seq("query_id", "cell"))
          else (p.q.select(col("vec_id").as("query_id"), col("v")), "v",
            Seq("query_id"))
        val xsub = slice(col(x), col("sub").cast("int") * sub + 1, lit(sub))
        val on = keys ++ Seq("sub", "code")
        val lut = qs.crossJoin(broadcast(pq.codebook))
          .select(on.map(col) :+ floor(VecFold.l2sq(xsub, col("cw")) * 1e9 +
            0.5).cast("long").as("d2i"): _*)
        probed(cands.select("vec_id", "sub", "code", "cell"), lut, on)
          .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
          .agg(sum("d2i").as("adc_e9"))
    }
  }

  /** Step 5 of [[serve]], the exact-cosine refine every rerank serve
    * ends in: fetch ONLY the broadcast shortlist's raw vectors from the
    * co-located `postings/` flavor (probed-cell partition prune + the
    * nq·rerank semi-join — refine cost independent of corpus size),
    * score with the exact cosine, re-rank.
    */
  private def refineExact(spark: SparkSession, path: String, p: Probes,
                          short: DataFrame, k: Int): DataFrame = {
    require(generations(spark, path, PostingsKind).nonEmpty,
      s"rerank serve needs the raw-vector flavor co-located at $path — " +
        "build the store with withRaw = true (or saveIvf on the same path)")
    // every shortlisted candidate came from a probed cell, so the refine
    // scan prunes to the same cell directories the shortlist read. The
    // mask applies HERE too, not just to the shortlist: an upserted id
    // has a masked stale raw row co-resident with its live one, and the
    // id-equijoin below would otherwise refine against both
    val post = candidates(spark, path, PostingsKind, p, lit(true), None)
      .select(col("vec_id").as("neighbor_id"), col("v"), col("norm"))
    Similarity.topK(post.join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(queryVecs(p)), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine6(col("v"), col("norm"), col("qv"), col("qnorm"))), k)
  }
}
