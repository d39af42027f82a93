"""Argument-contract and version-pin tests (ADVICE r13 + VERDICT r13
ask #8): contracts must hold under ``python -O`` (ValueError, never
assert), and the two Spark behaviors lm_positions' numpy-pack
bit-exactness rides on — ``split(str, '')`` emitting no trailing empty
element and ``ascii()`` returning the full Unicode code point — are
pinned so a Spark upgrade that changes either fails loudly instead of
silently skewing every lm_score consumer."""

import pytest
from pyspark.sql import functions as F

from spark_binlog_spark.functions import dedup, text


class TestArgumentContracts:
    def test_minhash_min_agree_one_rejected(self, spark):
        df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="min_agree"):
            dedup.minhash_candidate_pairs(df, min_agree=1)

    def test_minhash_pairs_from_wide_contract(self, spark):
        wide = spark.createDataFrame([(0, 1, 2)], "doc_id long, mh0 long, mh1 long")
        with pytest.raises(ValueError, match="min_agree"):
            dedup.minhash_pairs_from_wide(wide, n_hashes=2, min_agree=1)

    def test_neardup_sink_min_agree_one_rejected(self, spark, tmp_path):
        from spark_binlog_spark.streaming.neardup_sink import NearDupIngestSink

        with pytest.raises(ValueError, match="min_agree"):
            NearDupIngestSink(spark, str(tmp_path / "store"), min_agree=1)

    def test_simhash_bits_over_60_rejected(self, spark):
        df = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
        with pytest.raises(ValueError, match="bits"):
            dedup.simhash(df, bits=61)

    def test_compressibility_n_over_6_rejected(self, spark):
        df = spark.createDataFrame([(0, "abcdefgh")], "doc_id long, text string")
        with pytest.raises(ValueError, match="n must be"):
            text.compressibility(df, n=7)

    def test_hamming_summary_band_contract(self, spark):
        sig = spark.createDataFrame([(0, 3)], "doc_id long, sg long")
        with pytest.raises(ValueError, match="max_hamming"):
            dedup.hamming_dedup_summary(
                sig, "doc_id", "sg", bits=16, bands=4, max_hamming=4
            )

    def test_mpeg_builder_index_contract(self):
        from spark_binlog_spark.functions.audio_containers import build_mpeg_stream

        with pytest.raises(ValueError, match="br_idx"):
            build_mpeg_stream(1, br_idx=15, sr_idx=0)


class TestDrainAggregatedComposition:
    """The foreachBatch partial-aggregation reshape (r14 — the
    format(\"memory\") raw-log sink GC-thrashed at the sf10 rung) is
    only correct if the final re-aggregation COMPOSES over an arbitrary
    batch split.  availableNow on the Python DataSource runs one batch
    today, so the multi-batch algebra is pinned here directly: partials
    computed over disjoint slices must re-aggregate to the whole-batch
    answer, including the distinct-set union for n_wal_files."""

    def test_rolled_wal_partials_compose(self, spark):
        from pyspark.sql import functions as F

        rows = [(i, i % 4, i // 7) for i in range(100)]  # (offset, region, file)
        full = spark.createDataFrame(rows, "cdc_offset long, region long, wal_file long")

        def partial(b):
            return b.groupBy("region").agg(
                F.count("*").alias("n"),
                F.min("cdc_offset").alias("mn"),
                F.max("cdc_offset").alias("mx"),
                F.collect_set("wal_file").alias("files"),
            )

        def final(partials):
            return partials.groupBy("region").agg(
                F.sum("n").cast("long").alias("n_events"),
                F.min("mn").alias("min_offset"),
                F.max("mx").alias("max_offset"),
                F.size(F.array_distinct(F.flatten(F.collect_list("files"))))
                .cast("long")
                .alias("n_wal_files"),
            )

        whole = {r["region"]: tuple(r)[1:] for r in final(partial(full)).collect()}
        # adversarial split: uneven slices, regions spanning both
        split_rows = []
        for lo, hi in [(0, 13), (13, 60), (60, 100)]:
            batch = full.filter((F.col("cdc_offset") >= lo) & (F.col("cdc_offset") < hi))
            split_rows.extend(partial(batch).collect())
        split = spark.createDataFrame(
            split_rows, "region long, n long, mn long, mx long, files array<bigint>"
        )
        got = {r["region"]: tuple(r)[1:] for r in final(split).collect()}
        assert got == whole and len(got) == 4


class TestLmPositionsVersionPins:
    """lm_positions (Catalyst split('')/ascii() pack) must agree with
    lm_tri_counts (numpy utf-32 pack) on a fixture that exercises BMP,
    astral-plane, and empty documents — the two packs share no code, so
    agreement pins both Spark behaviors the numpy side assumes."""

    FIXTURE = [
        (0, "hello"),
        (1, ""),                      # empty doc: zero trigrams
        (2, "ab"),                    # below trigram width
        (3, "café naïve"),  # BMP accents + combining mark
        (4, "\U0001f600\U0001f601\U0001f602x"),  # astral plane (surrogate trap)
        (5, "aaaa"),                  # repeated trigram within one doc
        (6, "hello"),                 # repeated trigram across docs
    ]

    def test_positions_agree_with_tri_counts(self, spark):
        df = spark.createDataFrame(self.FIXTURE, "doc_id long, text string")
        from_positions = {
            (r["tri"],): r["c"]
            for r in text.lm_positions(df)
            .groupBy("tri")
            .agg(F.count("*").cast("long").alias("c"))
            .collect()
        }
        from_numpy = {
            (r["tri"],): r["c_tri"] for r in text.lm_tri_counts(df).collect()
        }
        assert from_positions == from_numpy
        assert from_positions, "fixture produced no trigrams"

    def test_astral_code_points_survive_both_packs(self, spark):
        # one astral doc: its lead trigram must carry the REAL code
        # points (>0xFFFF), not surrogate halves
        df = spark.createDataFrame([(0, "\U0001f600\U0001f601\U0001f602")],
                                   "doc_id long, text string")
        tri = text.lm_positions(df).collect()
        assert len(tri) == 1
        expect = (0x1F600 << 42) + (0x1F601 << 21) + 0x1F602
        assert tri[0]["tri"] == expect
        numpy_tri = text.lm_tri_counts(df).collect()
        assert numpy_tri[0]["tri"] == expect
