"""corpus_admission: the LLM-data ingest path.

Fixed-size micro-batches of seeded documents are each fed, closed
loop, to ``DedupIngestSink`` (exact fingerprints, bucketed store),
``NearDupIngestSink`` (MinHash bands, ``BucketedDeltaStore``) and
``CorpusStatsSink`` (mergeable per-source totals).  None of the CDC
workloads reach these sinks or ``functions/dedup.py``.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from perfbench import check
from perfbench.common import (
    cpu_seconds,
    median,
    nproc,
    percentile,
    start_spark,
    trace_overhead,
)
from scripts.gen_scale_fixtures import gen_documents

# Documents come from the repo's own corpus generator with the shape it
# measured off the sf0.1 documents table (31-word vocabulary, 10-100
# words, ~0.16% exact and ~4.7% near duplicates).  On that shape the
# MinHash rule (word 3-grams, 8 hashes, min_agree=2) admits 70-85% of
# the documents: min-hashes over so small a shingle space collide (the
# functions/dedup.py docstring notes this), so the near-dup sink rejects
# real work.  A batch costs 8.5-12 s through the three sinks on a 4-core
# host, most of it fixed per batch (a dozen Spark jobs, store swaps):
# 200 and 500 documents cost about the same, and 500 give each run's
# CPU time per document more documents to average over.  A compaction
# threshold of 2 compacts every touched bucket of both stores in every
# timed batch, so each timed batch does the same work and the
# compaction path is always measured; 4 buckets instead of 16 halve
# the batch time (16 buckets cost 19-23 s a batch on the same host).
# The run length sets the number of timed batches, at least one:
# set-up (session, sink stores, cold batch) already costs ~35 s.
CORPUS = {"batch_docs": 500, "est_batch_s": 10.0, "min_timed": 1, "min_agree": 2,
          "n_buckets": 4, "compact_threshold": 2}
SMOKE_CORPUS = dict(CORPUS, batch_docs=100)
SINKS = ("dedup", "neardup", "corpus_stats")


def run_corpus(ctx) -> dict:
    from spark_binlog_spark.functions.dedup import minhash_signatures_wide
    from spark_binlog_spark.streaming.corpus_stats import CorpusStatsSink
    from spark_binlog_spark.streaming.dedup_sink import DedupIngestSink
    from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink

    cfg = SMOKE_CORPUS if ctx.smoke else CORPUS
    w = ctx.work
    bdocs = cfg["batch_docs"]
    # a traced run times two batches: one traced, one not (see Tracer)
    min_timed = 2 if ctx.tracer.enabled else cfg["min_timed"]
    n_batches = 1 + max(min_timed, round(ctx.seconds / cfg["est_batch_s"]))
    docs = gen_documents(np.random.default_rng([ctx.seed, 4]), n_batches * bdocs)
    os.makedirs(os.path.join(w, "docs"))
    paths = []
    for i in range(n_batches):
        paths.append(os.path.join(w, "docs", f"b{i:04d}.parquet"))
        pq.write_table(docs.slice(i * bdocs, bdocs), paths[-1])

    spark = ctx.spark = start_spark(w, f"local[{nproc()}]")
    ctx.phase("session")
    sinks = {
        "dedup": DedupIngestSink(spark, os.path.join(w, "dedup"), n_buckets=cfg["n_buckets"],
                                 compact_threshold=cfg["compact_threshold"]),
        "neardup": NearDupIngestSink(spark, os.path.join(w, "neardup"), min_agree=cfg["min_agree"],
                                     n_buckets=cfg["n_buckets"],
                                     compact_threshold=cfg["compact_threshold"]),
        "corpus_stats": CorpusStatsSink(spark, os.path.join(w, "stats"), by="source"),
    }
    ctx.phase("sink_stores")
    batches = []
    t0 = None
    for i, path in enumerate(paths):
        if i == 1:
            ctx.mark_setup_done()
            t0 = time.monotonic()
        start, cpu0 = time.monotonic(), cpu_seconds()
        with ctx.tracer.span("admission", batch=i):
            df = spark.read.parquet(path).persist()
            df.count()
            for name in SINKS:
                with ctx.tracer.span(f"streaming.{name}.batch", batch=i):
                    sinks[name](df, i)
            df.unpersist()
        batches.append({"batch": i, "start": start, "end": time.monotonic(),
                        "cpu_s": cpu_seconds() - cpu0, "traced": ctx.tracer.traces(i)})
    ctx.phase("batches")
    timed = batches[1:]
    durs = [b["end"] - b["start"] for b in timed]

    ids = docs.column("doc_id").to_pylist()
    texts = docs.column("text").to_pylist()
    sources = docs.column("source").to_pylist()
    per_batch = [list(zip(ids[i * bdocs:(i + 1) * bdocs], texts[i * bdocs:(i + 1) * bdocs]))
                 for i in range(n_batches)]
    ref_exact = check.exact_admissions(per_batch)
    wide = minhash_signatures_wide(spark.read.parquet(*paths),
                                   n_hashes=sinks["neardup"].n_hashes).collect()
    sig = {r["doc_id"]: tuple(r[1:]) for r in wide}
    ref_near = check.near_admissions([[d for d, _ in b] for b in per_batch], sig, cfg["min_agree"])
    ref_stats = check.corpus_stats(list(zip(sources, texts)))

    ctx.phase("reference")
    got_exact = {r[0] for r in sinks["dedup"].accepted().select("doc_id").collect()}
    got_near = {r[0] for r in sinks["neardup"].accepted().collect()}
    got_stats = {r["source"]: (r["n_docs"], r["n_tokens"])
                 for r in sinks["corpus_stats"].current().collect()}
    ctx.phase("final_state")
    checks = {
        "exact_admission_mismatch": len(got_exact ^ ref_exact),
        "near_admission_mismatch": len(got_near ^ ref_near),
        "stats_mismatch": sum(got_stats.get(k) != v for k, v in ref_stats.items())
        + len(got_stats.keys() - ref_stats.keys()),
    }

    n_timed = bdocs * len(timed)
    chain = {
        # every document of a batch is admitted when its batch commits
        "freshness_p50_s": percentile(durs, 50),
        "freshness_p90_s": percentile(durs, 90),
        "applied_eps": n_timed / (timed[-1]["end"] - t0),
        "drain_eps": n_timed / sum(durs),
        "batch_p50_s": median(durs),
    }
    layers = {}
    if ctx.tracer.enabled:
        ids = {b["batch"] for b in timed}

        def p50_span(name):
            return median(ctx.tracer.batch_durations(name, ids))

        offered = bdocs * n_batches
        scans = sinks["neardup"].scan_stats
        layers = {
            "streaming.dedup.batch_s": p50_span("streaming.dedup.batch"),
            "streaming.dedup.admit_ratio": sinks["dedup"].admitted_rows / offered,
            "streaming.neardup.batch_s": p50_span("streaming.neardup.batch"),
            "streaming.neardup.admit_ratio": sinks["neardup"].admitted_rows / offered,
            "streaming.neardup.buckets_scanned": sum(s[1] for s in scans) / max(1, len(scans)),
            "streaming.neardup.compactions": sinks["neardup"].n_compactions,
            "streaming.corpus_stats.batch_s": p50_span("streaming.corpus_stats.batch"),
        }
        layers.update(trace_overhead(timed))
    cpu = [b["cpu_s"] for b in timed]
    return {"metrics": {"cpu_ms_per_item": 1000 * sum(cpu) / n_timed,
                        "batch_cpu_s": median(cpu)}, "chain": chain,
            "layers": layers, "checks": checks,
            "attempted": len(timed) * len(SINKS) + len(checks),
            "failed": sum(1 for v in checks.values() if v),
            "detail": {"batches": len(timed), "docs": n_timed, "batch_s": durs,
                       "exact_digest": check.digest(got_exact),
                       "near_digest": check.digest(got_near)}}
