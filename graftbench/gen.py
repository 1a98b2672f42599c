"""Seeded input generator for the benchmark's workloads.

Every size below is fixed; the seed only moves values (timestamps, counts,
which counters burst, word choices, vector noise). Two seeds therefore give
the same amount of work, and one seed always gives byte-identical files.

    python3 graftbench/gen.py <workload> <seed> <out_dir>

Sizes were chosen for a 4-core, 15 GB host running Spark `local[4]`.
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

T0 = np.datetime64("2024-03-04T00:00:00", "s")

# trend, batch half: the reference's many-counter CSV flow.
BATCH = dict(counters=300, days=2, files=4, burst_frac=0.1,
             lib_trend=12, lib_plain=12)
# trend, stream half: gap-free hourly event stream, one chunk file per hour.
STREAM = dict(counters=160, hours=48, burst_frac=0.1)
# corpus-store: documents with near-duplicate families plus clustered
# embeddings; the base corpus is stored, the pool feeds the append script.
CORPUS = dict(base_docs=800, pool_docs=1200, dup_frac=0.2, vocab=4000,
              dim=32, clusters=24, queries=32)

SIZES = {"trend": dict(batch=BATCH, stream=STREAM), "corpus-store": CORPUS}


def zipf_rates(n, top, expo):
    return top / np.arange(1, n + 1, dtype=np.float64) ** expo


def diurnal(hours):
    return 1.0 + 0.5 * np.sin(2 * np.pi * ((hours % 24) - 6) / 24.0)


def burst_gain(hours, t0, width, amp):
    """Burst with an abrupt onset at `t0`: `amp`-fold extra rate, decaying
    linearly to nothing over `width` hours."""
    x = np.where(hours >= t0, 1.0 - (hours - t0) / width, 0.0)
    return 1.0 + amp * np.clip(x, 0.0, None)


def pick_bursts(rng, n, frac):
    """Counters that get a planted burst: drawn from the upper half of the
    size ranks, below the few largest."""
    k = int(round(n * frac))
    return set(rng.choice(np.arange(4, n // 2), size=k, replace=False).tolist())


def counter_names(rng, n, prefix):
    ids = rng.permutation(n)
    return [f"{prefix}{i:05d}" for i in ids]


def gen_trend_batch(seed, out):
    c = BATCH
    rng = np.random.default_rng(seed)
    n, span = c["counters"], c["days"] * 86400
    names = counter_names(rng, n, "ctr")
    rates = zipf_rates(n, 300.0, 0.9)
    # reporting cadence falls with rank: the head reports every ~15 min,
    # the tail every ~2 h; intervals are irregular and straddle bins
    per_day = np.clip(np.round(96.0 / np.arange(1, n + 1) ** 0.3), 12, 96)
    bursts = pick_bursts(rng, n, c["burst_frac"])
    rows = [[] for _ in range(c["files"])]
    labels = {}
    overlaps = 0
    for r in range(n):
        k = int(per_day[r] * c["days"])
        cuts = np.sort(rng.choice(np.arange(1, span), size=k - 1, replace=False))
        starts = np.concatenate([[0], cuts])
        durs = np.diff(np.concatenate([starts, [span]]))
        mid_h = (starts + durs / 2.0) / 3600.0
        rate = rates[r] * diurnal(mid_h)
        if r in bursts:
            t0 = rng.uniform(span / 3600.0 * 0.4, span / 3600.0 * 0.9)
            rate = rate * burst_gain(mid_h, t0, rng.uniform(6, 12), rng.uniform(15, 25))
        counts = rng.poisson(rate * durs / 3600.0)
        overlaps += int(((starts + durs - 1) // 3600 - starts // 3600 + 1).sum())
        ts = (T0 + starts.astype("timedelta64[s]")).astype("datetime64[s]")
        stamps = np.datetime_as_string(ts, unit="s")
        f = rows[r % c["files"]]
        for s, d, cnt in zip(stamps, durs, counts):
            f.append(f"{s[0:4]}{s[5:7]}{s[8:10]}{s[11:13]}{s[14:16]}{s[17:19]},"
                     f"{int(d)},{int(cnt)},{names[r]}\n")
        labels[names[r]] = r in bursts
    csv_dir = os.path.join(out, "csv")
    os.makedirs(csv_dir, exist_ok=True)
    for i, f in enumerate(rows):
        with open(os.path.join(csv_dir, f"part-{i}.csv"), "w") as fh:
            fh.writelines(f)
    # the WDT library: a few dozen labeled series, trends and non-trends
    trend = sorted(nm for nm, b in labels.items() if b)
    plain = sorted(nm for nm, b in labels.items() if not b)
    lib_t = sorted(rng.choice(trend, size=c["lib_trend"], replace=False).tolist())
    lib_p = sorted(rng.choice(plain, size=c["lib_plain"], replace=False).tolist())
    with open(os.path.join(out, "library.csv"), "w") as fh:
        fh.writelines(f"{nm},{str(nm in lib_t).lower()}\n" for nm in lib_t + lib_p)
    meta = {"rows": sum(len(f) for f in rows),
            "bytes": sum(os.path.getsize(os.path.join(csv_dir, p))
                         for p in os.listdir(csv_dir)),
            "counters": n, "bins_per_counter": c["days"] * 24,
            # hourly bins each interval overlaps: the fan-out of rebin's
            # overlap join
            "bins_per_row": overlaps / sum(len(f) for f in rows),
            "bursts": sorted(nm for nm, b in labels.items() if b),
            "library_trend": lib_t, "library_plain": lib_p}
    return meta


def gen_trend_stream(seed, out):
    c = STREAM
    rng = np.random.default_rng(seed)
    n, hours = c["counters"], c["hours"]
    names = np.array(counter_names(rng, n, "str"))
    rates = zipf_rates(n, 24.0, 0.8)
    bursts = pick_bursts(rng, n, c["burst_frac"])
    h = np.arange(hours, dtype=np.float64) + 0.5
    lam = rates[:, None] * diurnal(h)[None, :]
    for r in bursts:
        lam[r] *= burst_gain(h, rng.uniform(hours * 0.3, hours * 0.9),
                             rng.uniform(6, 12), rng.uniform(15, 25))
    # at least one event per counter per hour: the stream has no gaps on
    # the hourly grid, so streaming and batch rebin see the same bins
    per = np.maximum(1, rng.poisson(lam))
    chunk_dir = os.path.join(out, "chunks")
    os.makedirs(chunk_dir, exist_ok=True)
    total = 0
    size = 0
    for hr in range(hours):
        k = per[:, hr]
        who = np.repeat(np.arange(n), k)
        sec = rng.integers(0, 3600, size=who.size)
        order = np.argsort(sec, kind="stable")
        ts = (T0 + np.timedelta64(hr * 3600, "s") + sec[order].astype("timedelta64[s]"))
        tbl = pa.table({
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
            "counter": pa.array(names[who[order]]),
            "count": pa.array(np.ones(who.size))})
        p = os.path.join(chunk_dir, f"chunk-{hr:05d}.parquet")
        pq.write_table(tbl, p)
        total += who.size
        size += os.path.getsize(p)
    return {"events": int(total), "bytes": size, "counters": n, "chunks": hours,
            "bursts": sorted(names[r] for r in bursts)}


def words_for(rng, n_words, vocab, p):
    return " ".join(f"w{x}" for x in rng.choice(vocab, size=n_words, p=p))


def mutate(rng, text, vocab, p, frac):
    w = text.split(" ")
    k = max(1, int(len(w) * frac))
    idx = rng.choice(len(w), size=k, replace=False)
    repl = rng.choice(vocab, size=k, p=p)
    for i, x in zip(idx, repl):
        w[i] = f"w{x}"
    return " ".join(w)


def gen_corpus(seed, out):
    c = CORPUS
    rng = np.random.default_rng(seed)
    vocab = c["vocab"]
    p = 1.0 / np.arange(1, vocab + 1) ** 1.05
    p /= p.sum()
    n_all = c["base_docs"] + c["pool_docs"] + c["queries"]
    n_dup = int(n_all * c["dup_frac"])
    texts = [words_for(rng, int(rng.integers(30, 120)), vocab, p)
             for _ in range(n_all - n_dup)]
    # near-duplicate families: light edits of an original
    src = rng.choice(len(texts), size=n_dup)
    texts += [mutate(rng, texts[s], vocab, p, rng.uniform(0.02, 0.08)) for s in src]
    cents = rng.normal(size=(c["clusters"], c["dim"]))
    cl = rng.integers(0, c["clusters"], size=n_all)
    emb = cents[cl] + 0.35 * rng.normal(size=(n_all, c["dim"]))
    emb[len(texts) - n_dup:] = emb[src] + 0.05 * rng.normal(size=(n_dup, c["dim"]))
    perm = rng.permutation(n_all)  # doc ids carry no family information
    ids = np.arange(n_all, dtype=np.int64)
    texts = [texts[i] for i in perm]
    emb = emb[perm].astype(np.float32)
    q_end = c["queries"]
    b_end = q_end + c["base_docs"]
    part = {"queries": (0, q_end), "base": (q_end, b_end), "pool": (b_end, n_all)}
    size = 0
    for name, (lo, hi) in part.items():
        d = pa.table({"doc_id": pa.array(ids[lo:hi]),
                      "text": pa.array(texts[lo:hi])})
        e = pa.table({"vec_id": pa.array(ids[lo:hi]),
                      "embedding": pa.array(list(emb[lo:hi]),
                                            pa.list_(pa.float32()))})
        for kind, t in (("docs", d), ("emb", e)):
            path = os.path.join(out, f"{name}_{kind}.parquet")
            pq.write_table(t, path)
            if name != "queries":
                size += os.path.getsize(path)
    # the order in which the write script deletes base documents
    with open(os.path.join(out, "deletes.txt"), "w") as fh:
        fh.writelines(f"{i}\n" for i in rng.permutation(np.arange(q_end, b_end)))
    return {"docs": c["base_docs"], "pool": c["pool_docs"],
            "queries": c["queries"], "dim": c["dim"], "bytes": size}


def gen_trend(seed, out):
    return {"batch": gen_trend_batch(seed, out), "stream": gen_trend_stream(seed, out)}


GEN = {"trend": gen_trend, "corpus-store": gen_corpus}


def generate(workload, seed, out):
    """Writes the workload's inputs under `out` and returns their metadata;
    a finished directory (marked by meta.json) is reused as is."""
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            return json.load(fh)
    os.makedirs(out, exist_ok=True)
    meta = GEN[workload](seed, out)
    meta.update(workload=workload, seed=seed, sizes=SIZES[workload])
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, meta_path)
    return meta


if __name__ == "__main__":
    m = generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
    print(json.dumps({k: v for k, v in m.items() if not isinstance(v, list)}))
