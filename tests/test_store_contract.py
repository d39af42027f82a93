"""The contract every mergeable summary store keeps (streaming/store.py),
checked once per store: a replayed batch changes nothing and the
streamed store equals the one-shot store over the same rows; a crash at
any filesystem step of a batch commit resumes to the no-crash store; a
store of another column set is refused on resume."""

import glob
import os
import shutil

import pytest
from pyspark.sql import Row

from tests.conftest import _CrashAt

WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _docs(spark, ids):
    return spark.createDataFrame(
        [
            Row(
                doc_id=i,
                source=f"s{i % 3}",
                lang=["en", "de"][i % 2],
                text=" ".join(
                    WORDS[(i * 5 + j) % 8] + ("" if j % 2 else str((i + j) % 4))
                    for j in range(2 + i % 7)
                ),
            )
            for i in ids
        ]
    )


def _vecs(spark, ids):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float((i * 7 + d * 3) % 11) - 5.0 for d in range(4)]) for i in ids]
    )


def _store(name):
    """(make(spark, path, resume), rows(spark, ids), monoid) per store.
    A monoid store over two batches equals the one-shot store over
    their union; k-means assigns each batch to the centroids of the
    batches before it, so its reference is the same batches fed once."""
    from spark_binlog_spark.streaming import (
        corpus_stats,
        dsir_sink,
        kmeans_sink,
        lm_sink,
        sketch_sink,
        vocab_sink,
    )

    class SmallPrioritySampleSink(sketch_sink.PrioritySampleSink):
        k = 4  # below the 4-7 documents per source, so the merge drops rows

    sinks = {
        "cms": (sketch_sink.CmsSketchSink, {}),
        "hll": (sketch_sink.HllSketchSink, {}),
        "hist": (sketch_sink.HistSketchSink, {}),
        "kmv": (sketch_sink.KmvSketchSink, {}),
        "priority": (SmallPrioritySampleSink, {}),
        "bloom": (sketch_sink.BloomBitsSink, {"where": "doc_id % 2 = 0"}),
        "lm": (lm_sink.LmModelSink, {}),
        "dsir": (dsir_sink.DsirModelSink, {}),
        "word_freq": (vocab_sink.WordFreqSink, {}),
        "kmeans": (kmeans_sink.MiniBatchKmeansSink, {"n_clusters": 2}),
        "corpus_stats": (corpus_stats.CorpusStatsSink, {}),
    }
    cls, kw = sinks[name]

    def make(spark, path, resume=True):
        return cls(spark, path, resume=resume, **kw)

    return make, (_vecs if name == "kmeans" else _docs), name != "kmeans"


STORES = [
    "cms", "hll", "hist", "kmv", "priority", "bloom",
    "lm", "dsir", "word_freq", "kmeans", "corpus_stats",
]
B0, B1 = range(0, 12), range(12, 20)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _snapshot(sink):
    """Every stored row, and the drift served off the corpus-stats
    last-delta store."""
    rows = _rows(sink._stats())
    if hasattr(sink, "delta_dir"):
        rows.append(_rows(sink.drift()))
    return rows


@pytest.mark.parametrize("name", STORES)
def test_replay_is_a_no_op_and_stream_equals_one_shot(spark, tmp_path, name):
    make, rows, monoid = _store(name)
    sink = make(spark, str(tmp_path / "stream"))
    b0, b1 = rows(spark, B0), rows(spark, B1)
    sink(b0, 0)
    sink(b1, 1)
    sink(b0, 0)  # replay after a crash between the swap and the commit
    ref = make(spark, str(tmp_path / "ref"))
    if monoid:
        ref(rows(spark, list(B0) + list(B1)), 0)
    else:
        ref(b0, 0)
        ref(b1, 1)
    assert _rows(sink._stats().drop("batch_id")) == _rows(ref._stats().drop("batch_id"))
    assert sink._last_batch_id() == 1


@pytest.mark.parametrize("name", STORES)
def test_crash_at_every_commit_step_converges(spark, tmp_path, monkeypatch, name):
    """For k = 1, 2, ...: crash batch 1's commit at its k-th filesystem
    step, open a fresh sink on the same directory and replay batch 1;
    the store must equal the no-crash store.  The loop ends at the
    first k the commit no longer reaches."""
    make, rows, _ = _store(name)
    b0, b1 = rows(spark, B0), rows(spark, B1)
    ref = make(spark, str(tmp_path / "ref"))
    ref(b0, 0)
    ref(b1, 1)
    want = _snapshot(ref)
    seed = str(tmp_path / "seed" / "store")
    make(spark, seed)(b0, 0)
    crash = _CrashAt(monkeypatch)
    step = 0
    while True:
        step += 1
        assert step <= 12, "a batch commit should take a handful of filesystem steps"
        path = str(tmp_path / f"step{step}" / "store")
        for src in glob.glob(seed + "*"):  # the store after batch 0
            shutil.copytree(src, path + src[len(seed):])
        sink = make(spark, path)
        crash.reset(step)
        crash.armed = True
        try:
            sink(b1, 1)
        except OSError:
            pass
        finally:
            crash.armed = False
        if not crash.fired:
            break
        resumed = make(spark, path)  # restart: recover, then replay batch 1
        resumed(b1, 1)
        assert _snapshot(resumed) == want, f"crash at commit step {step}"
        leftovers = [p for p in glob.glob(path + "*") if not p.endswith(("store", "_last_delta"))]
        assert leftovers == [], f"step {step}: {leftovers}"
    assert step > 4, "expected a multi-step swap"


@pytest.mark.parametrize("name", STORES)
def test_resume_over_other_columns_raises(spark, tmp_path, name):
    make, _, _ = _store(name)
    path = str(tmp_path / "store")
    cols = make(spark, path, resume=False)._schema.names
    other = [c for c in cols if c != "batch_id"][:-1] + ["other", "batch_id"]
    spark.createDataFrame([], ", ".join(f"{c} long" for c in other)).write.mode(
        "overwrite"
    ).parquet(path)
    with pytest.raises(ValueError, match="columns"):
        make(spark, path)
    assert os.path.isdir(path)


def test_priority_sample_keeps_a_reingested_document_once(spark, tmp_path):
    """A document ingested again unchanged in a later batch yields the
    same sample row; the store keeps it once, so it equals the one-shot
    sample over the distinct documents."""
    make, rows, _ = _store("priority")
    sink = make(spark, str(tmp_path / "stream"))
    sink(rows(spark, B0), 0)
    sink(rows(spark, list(B1) + list(B0)), 1)  # batch 0 re-ingested
    ref = make(spark, str(tmp_path / "ref"))
    ref(rows(spark, list(B0) + list(B1)), 0)
    got = _rows(sink._stats().drop("batch_id"))
    assert len(set(got)) == len(got)
    assert got == _rows(ref._stats().drop("batch_id"))
