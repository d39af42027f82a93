"""Unit tests: offset codec, envelope roundtrip, multimodal plumbing."""

import pytest

from spark_binlog_spark.offsets import BinlogOffset
from tests.conftest import SF_TEST


class TestBinlogOffset:
    def test_pack_worked_example(self):
        # README.md:206-228 worked example: (fileId=14, pos=34913156)
        assert BinlogOffset(14, 34913156).to_long() == 140000034913156

    def test_pack_min(self):
        assert BinlogOffset(4, 4).to_long() == 40000000000004

    def test_roundtrip(self):
        for f, p in [(1, 0), (14, 34913156), (999999, 9999999999999)]:
            o = BinlogOffset(f, p)
            assert BinlogOffset.from_long(o.to_long()) == o

    def test_file_name(self):
        assert BinlogOffset(14, 0).file_name() == "mysql-bin.000014"
        assert BinlogOffset.from_file_name("mysql-bin.000014") == 14

    def test_pos_overflow(self):
        with pytest.raises(ValueError):
            BinlogOffset(1, 10**13).to_long()

    def test_ordering_matches_packing(self):
        a, b = BinlogOffset(1, 999), BinlogOffset(2, 0)
        assert (a < b) == (a.to_long() < b.to_long())


class TestEnvelope:
    def test_roundtrip_identity(self, spark):
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from spark_binlog_spark.envelope import encode_envelope, flatten_rows, parse_envelope

        row_schema = StructType(
            [StructField("id", LongType()), StructField("name", StringType())]
        )
        src = spark.range(5).select(
            encode_envelope(
                op=F.lit("insert"),
                timestamp_ms=F.lit(1592452620000),
                database_name=F.lit("mbcj_test"),
                table_name=F.lit("script_file"),
                rows=F.array(F.struct(F.col("id"), F.concat(F.lit("n"), F.col("id")).alias("name"))),
            ).alias("value")
        )
        parsed = parse_envelope(src, row_schema)
        assert parsed.columns == ["type", "timestamp", "databaseName", "tableName", "schema", "rows"]
        flat = flatten_rows(parsed)
        rows = {r["row"]["id"]: r for r in flat.collect()}
        assert len(rows) == 5
        assert rows[3]["type"] == "insert"
        assert rows[3]["databaseName"] == "mbcj_test"
        assert rows[3]["row"]["name"] == "n3"
        assert rows[3]["schema"] is None  # HBase null-schema convention

    def test_null_values_tolerated(self, spark):
        # reference omits null columns from rows objects
        # (InsertRowsWriter.java:51-53) -> missing key parses as null
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        from spark_binlog_spark.envelope import envelope_schema

        schema = envelope_schema(
            StructType([StructField("id", LongType()), StructField("name", StringType())])
        )
        df = spark.createDataFrame(
            [('{"type":"insert","timestamp":1,"databaseName":"d","tableName":"t",'
              '"schema":null,"rows":[{"id":7}]}',)],
            ["value"],
        ).select(F.from_json("value", schema).alias("e"))
        row = df.select(F.col("e.rows")[0].alias("r")).collect()[0]["r"]
        assert row["id"] == 7 and row["name"] is None


class TestMultimodal:
    def test_decode_frames_fake(self, spark):
        from spark_binlog_spark.cdc import load_table
        from spark_binlog_spark.functions import multimodal

        docs = load_table(spark, SF_TEST, "documents").limit(20)
        media = multimodal.as_media(docs, "doc_id", "text", "text_blob")
        frames = multimodal.decode_frames(media, fake=True)
        plan = multimodal.frame_plan(media)
        got = {(r["media_id"], r["frame_idx"], r["frame_offset"], r["frame_len"])
               for r in frames.collect()}
        want = {(r["media_id"], r["frame_idx"], r["frame_offset"], r["frame_len"])
                for r in plan.collect()}
        assert got == want  # Arrow decode path agrees with the pure-DF plan

    def test_extract_features_fake(self, spark):
        from spark_binlog_spark.cdc import load_table
        from spark_binlog_spark.functions import multimodal

        docs = load_table(spark, SF_TEST, "documents").limit(10)
        media = multimodal.as_media(docs, "doc_id", "text", "text_blob")
        feats = multimodal.extract_features(media, fake=True)
        rows = feats.collect()
        assert len(rows) == 10
        for r in rows:
            assert len(r["feature"]) == multimodal.FEATURE_DIM
            assert all(-1.0 <= x <= 1.0 for x in r["feature"])
        # deterministic: second run identical
        again = {r["media_id"]: r["feature_norm4"] for r in multimodal.extract_features(media, fake=True).collect()}
        assert again == {r["media_id"]: r["feature_norm4"] for r in rows}

    @staticmethod
    def _bmp_quadrants() -> bytes:
        """4×4 24-bit BMP: quadrant colors black / white / red / blue
        (bottom-up rows, BGR pixels, 4-byte row padding = 54 + 4*16
        bytes exactly since 4px*3B = 12 → stride 12, pad 0... build
        with struct to stay spec-exact)."""
        import struct

        w = h = 4
        stride = (w * 3 + 3) & ~3
        pix = bytearray()
        # rows BOTTOM-UP: file rows 0..3 are image rows 3..0.
        # image rows 0-1: left=black, right=white; rows 2-3: left=red,
        # right=blue (RGB) → BGR on disk
        img = [
            [(0, 0, 0)] * 2 + [(255, 255, 255)] * 2,
            [(0, 0, 0)] * 2 + [(255, 255, 255)] * 2,
            [(255, 0, 0)] * 2 + [(0, 0, 255)] * 2,
            [(255, 0, 0)] * 2 + [(0, 0, 255)] * 2,
        ]
        for r in reversed(range(h)):
            row = bytearray()
            for rgb in img[r]:
                row += bytes([rgb[2], rgb[1], rgb[0]])
            row += b"\x00" * (stride - len(row))
            pix += row
        header = struct.pack("<2sIHHI", b"BM", 54 + len(pix), 0, 0, 54)
        dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 0, 0, 0, 0)
        return header + dib + bytes(pix)

    def test_real_bmp_and_pnm_decode_dependency_free(self, spark):
        """BMP/PNM images decode REAL (no PIL) with exact, hand-derived
        features: integer luma per quadrant — black 0, white 255, red
        76, blue 29 — box-averaged 1 pixel per 4×4 grid cell on a 4×4
        image, then (luma-128)/128."""
        from pyspark.sql import functions as F

        from spark_binlog_spark.functions import multimodal

        lum = {"k": 0, "w": 255, "r": (299 * 255) // 1000, "b": (114 * 255) // 1000}
        want = [
            lum["k"], lum["k"], lum["w"], lum["w"],
            lum["k"], lum["k"], lum["w"], lum["w"],
            lum["r"], lum["r"], lum["b"], lum["b"],
            lum["r"], lum["r"], lum["b"], lum["b"],
        ]
        want_feats = [(v - 128) / 128.0 for v in want]

        bmp = self._bmp_quadrants()
        assert multimodal._image_features_stdlib(bmp) == want_feats

        # P6 PPM with the same pixels (top-down raster, RGB)
        raster = bytearray()
        img = [
            [(0, 0, 0)] * 2 + [(255, 255, 255)] * 2,
            [(0, 0, 0)] * 2 + [(255, 255, 255)] * 2,
            [(255, 0, 0)] * 2 + [(0, 0, 255)] * 2,
            [(255, 0, 0)] * 2 + [(0, 0, 255)] * 2,
        ]
        for row in img:
            for rgb in row:
                raster += bytes(rgb)
        ppm = b"P6\n# comment\n4 4\n255\n" + bytes(raster)
        assert multimodal._image_features_stdlib(ppm) == want_feats

        # P5 PGM: grayscale ramp 0..255 over 16 pixels
        pgm = b"P5 4 4 255\n" + bytes(range(0, 256, 16))
        got = multimodal._image_features_stdlib(pgm)
        assert got == [((v) - 128) / 128.0 for v in range(0, 256, 16)]

        # spec: samples scale by maxval — an all-15 PGM at maxval 15 IS
        # white (255), not near-black
        pgm15 = b"P5 4 4 15\n" + bytes([15] * 16)
        assert multimodal._image_features_stdlib(pgm15) == [(255 - 128) / 128.0] * 16

        # ...and through the REAL (fake=False) Spark path end-to-end
        media = spark.createDataFrame(
            [(1, bytes(bmp)), (2, bytes(ppm))],
            "media_id long, content binary",
        ).select("media_id", "content", F.lit("image").alias("media_type"))
        rows = {r["media_id"]: r["feature"] for r in
                multimodal.extract_features(media, fake=False).collect()}
        assert rows[1] == want_feats and rows[2] == want_feats

        # compressed formats without PIL still raise the marked stub
        jpeg_ish = spark.createDataFrame(
            [(3, b"\xff\xd8\xff\xe0" + b"\x00" * 64)], "media_id long, content binary"
        ).select("media_id", "content", F.lit("image").alias("media_type"))
        try:
            import PIL  # noqa: F401
        except ImportError:
            with pytest.raises(Exception):
                multimodal.extract_features(jpeg_ish, fake=False).collect()

    def test_decode_frames_stub_raises(self, spark):
        from spark_binlog_spark.cdc import load_table
        from spark_binlog_spark.functions import multimodal

        docs = load_table(spark, SF_TEST, "documents").limit(1)
        media = multimodal.as_media(docs, "doc_id", "text", "text_blob")
        with pytest.raises(Exception):  # NotImplementedError inside executor
            multimodal.decode_frames(media, fake=False).collect()


class TestPartitionRangeDataLoss:
    def test_until_before_from_raises(self, spark):
        """O4 parity: the reference errors when until < from (data loss,
        MLSQLHBaseWALDataSource.scala:220-241); ours raises lazily at
        execution via raise_error inside the projection."""
        import pytest
        from pyspark.sql import Row

        from spark_binlog_spark.operators import partition_ranges

        fmap = spark.createDataFrame([Row(partition="r0", offset=100)])
        umap = spark.createDataFrame([Row(partition="r0", offset=50)])
        ranges = partition_ranges(fmap, umap)
        with pytest.raises(Exception, match="data loss"):
            ranges.collect()
        # opt-out mirrors Kafka's failOnDataLoss=false
        ok = partition_ranges(fmap, umap, fail_on_data_loss=False).collect()
        assert ok[0]["until_offset"] == 50

    def test_new_partition_starts_at_minus_one(self, spark):
        from pyspark.sql import Row

        from spark_binlog_spark.operators import partition_ranges

        fmap = spark.createDataFrame([Row(partition="r0", offset=10)])
        umap = spark.createDataFrame(
            [Row(partition="r0", offset=20), Row(partition="r1", offset=5)]
        )
        got = {r["partition"]: (r["from_offset"], r["until_offset"])
               for r in partition_ranges(fmap, umap).collect()}
        assert got == {"r0": (10, 20), "r1": (-1, 5)}


class TestSketchPath:
    def test_approx_count_distinct_drop_in(self, spark):
        """The documented 100 TB drop-in for q_distinct_users: HLL++
        (approx_count_distinct) — one pass, fixed-size mergeable sketch,
        no exact-distinct expansion.  Bounds check at 2% rsd against the
        exact count (not oracle-checked: approx by nature)."""
        from pyspark.sql import functions as F

        from spark_binlog_spark.cdc import changes_df
        from tests.conftest import SF_TEST

        ch = changes_df(spark, SF_TEST)
        exact = {r["table_name"]: r["n"] for r in
                 ch.groupBy("table_name").agg(F.countDistinct("pk").alias("n")).collect()}
        approx = {r["table_name"]: r["n"] for r in
                  ch.groupBy("table_name")
                  .agg(F.approx_count_distinct("pk", 0.02).alias("n")).collect()}
        for t, n in exact.items():
            assert abs(approx[t] - n) <= max(2, 0.05 * n), (t, n, approx[t])
        # plan: single aggregation pass, no Expand (exact distinct would
        # rewrite through a two-phase expand)
        plan = (ch.groupBy("table_name")
                .agg(F.approx_count_distinct("pk", 0.02).alias("n"))
                ._jdf.queryExecution().executedPlan().toString())
        assert "Expand" not in plan


class TestKmeansTrain:
    def test_training_improves_assignment_quality(self, spark):
        """kmeans_train: after Lloyd iterations the mean cosine of each
        vector to its assigned centroid must not be worse than under
        the seed centroids (Lloyd monotonicity, up to quantization),
        with deterministic output shape."""
        from pyspark.sql import functions as F

        from spark_binlog_spark.functions import similarity
        from tests.conftest import SF_TEST

        emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        base = similarity.with_quantized(emb)
        seeds = similarity.seed_centroids(base, 8)
        before = (
            similarity.assign_to_centroids(base, seeds)
            .agg(F.avg("c4").alias("m")).collect()[0]["m"]
        )
        trained = similarity.kmeans_train(emb, n_centroids=8, iterations=3)
        rows = trained.collect()
        assert len(rows) == 8
        assert all(len(r["cq"]) == 64 for r in rows)
        after = (
            similarity.assign_to_centroids(base, trained)
            .agg(F.avg("c4").alias("m")).collect()[0]["m"]
        )
        assert after >= before, (before, after)

    def test_training_is_deterministic(self, spark):
        from spark_binlog_spark.functions import similarity
        from tests.conftest import SF_TEST

        emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        a = {(r["centroid_id"], tuple(r["cq"])) for r in
             similarity.kmeans_train(emb, 8, 2).collect()}
        b = {(r["centroid_id"], tuple(r["cq"])) for r in
             similarity.kmeans_train(emb, 8, 2).collect()}
        assert a == b


class TestScd2History:
    def test_current_rows_equal_latest_nondeleted_images(self, spark):
        """The SCD2 invariants: is_current versions are exactly the
        keys whose LAST change is non-delete (== latest_image filtered
        on op), every interval is forward (valid_to > valid_from), and
        each key has at most one open version."""
        from pyspark.sql import functions as F

        from spark_binlog_spark.cdc import changes_df
        from spark_binlog_spark.operators import latest_image, scd2_history

        ch = changes_df(spark, SF_TEST)
        hist = scd2_history(ch)
        cur = {
            (r["pk"], r["value"])
            for r in hist.filter("is_current").select("pk", "value").collect()
        }
        li = {
            (r["pk"], r["value"])
            for r in latest_image(ch, ["pk"])
            .filter(F.col("op") != "delete")
            .select("pk", "value")
            .collect()
        }
        assert cur == li and cur
        assert hist.filter(F.col("valid_to") <= F.col("valid_from")).count() == 0
        per_key_open = (
            hist.filter("is_current").groupBy("pk").agg(F.count("*").alias("n"))
        )
        assert per_key_open.filter(F.col("n") > 1).count() == 0


class TestProductQuantization:
    def test_training_improves_quantization_error(self, spark):
        """One Lloyd step must not worsen total squared reconstruction
        error vs the seed codebooks (k-means monotonicity, per
        subspace), and codebooks keep the (sub, code, cv, cnorm) shape
        with subdim-length codewords."""
        from pyspark.sql import functions as F

        from spark_binlog_spark.functions import similarity
        from tests.conftest import SF_TEST

        emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        base = similarity.with_quantized(emb)
        subv = similarity._pq_subvectors(base, 8, 8)

        def total_err(cb):
            assigned = similarity._pq_assign(subv, cb)
            joined = assigned.join(cb, ["sub", "code"]).select(
                similarity._l2(F.col("v"), F.col("cv")).alias("e")
            )
            return joined.agg(F.sum("e").alias("s")).collect()[0]["s"]

        seeds = similarity.pq_train(emb, m=8, codes=16, iterations=0)
        trained = similarity.pq_train(emb, m=8, codes=16, iterations=1)
        rows = trained.collect()
        assert all(len(r["cv"]) == 8 for r in rows)
        assert {r["sub"] for r in rows} == set(range(8))
        assert total_err(trained) <= total_err(seeds)

    def test_encoding_shape_and_determinism(self, spark):
        """Every corpus vector gets exactly m codes; two runs agree."""
        from pyspark.sql import functions as F

        from spark_binlog_spark.functions import similarity
        from tests.conftest import SF_TEST

        emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        base = similarity.with_quantized(emb)
        cb = similarity.pq_train(emb, m=8, codes=16)
        subv = similarity._pq_subvectors(base, 8, 8)
        enc = similarity._pq_assign(subv, cb).select("vec_id", "sub", "code")
        n_vecs = emb.count()
        per_vec = enc.groupBy("vec_id").agg(F.count("*").alias("n"))
        assert per_vec.filter(F.col("n") != 8).count() == 0
        assert per_vec.count() == n_vecs
        a = {tuple(r) for r in enc.collect()}
        b = {
            tuple(r)
            for r in similarity._pq_assign(subv, cb)
            .select("vec_id", "sub", "code")
            .collect()
        }
        assert a == b

    def test_m_must_divide_dim(self, spark):
        import pytest as _pytest

        from spark_binlog_spark.functions import similarity
        from tests.conftest import SF_TEST

        emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        with _pytest.raises(ValueError, match="evenly divide"):
            similarity.pq_train(emb, m=7)
        with _pytest.raises(ValueError, match="evenly divide"):
            similarity.pq_topk_with_recall(emb, m=5)


class TestDerivedLshPlanes:
    def test_planes_scale_with_corpus_and_cap_at_dim(self):
        from spark_binlog_spark.functions.similarity import derived_planes

        # tiny corpora keep the toy grid
        assert derived_planes(500, dim=64) == 4
        assert derived_planes(1024, dim=64) == 4
        # bucket population stays ~target as n grows
        assert derived_planes(1 << 20, dim=64) == 10  # 1M/1024 = 2^10
        assert derived_planes(10**9, dim=64) == 20
        # one sign bit per leading dim — dim caps the grid
        assert derived_planes(10**9, dim=8) == 8

    def test_default_derives_and_explicit_pins(self, spark):
        """planes=None derives from the corpus; the declared queries
        pin planes=4 so their oracles stay scale-independent — both
        paths must return the declared output shape."""
        from spark_binlog_spark.functions import similarity
        from tests.conftest import SF_TEST

        emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        # SF_TEST has <= 1024 vectors: derived == 4 == explicit
        auto = similarity.lsh_topk(emb, n_queries=2, k=3).collect()
        pinned = similarity.lsh_topk(emb, n_queries=2, k=3, planes=4).collect()
        assert auto == pinned
        pairs = similarity.embedding_near_dup_pairs(emb, min_cosine4=5000)
        assert pairs.columns == ["vec_a", "vec_b", "cosine4"]


class TestAsofJoin:
    def test_inclusive_boundary_and_no_preceding(self, spark):
        """asof_join: right row at exactly the left timestamp matches
        (inclusive); left rows before any right row keep nulls; latest
        preceding right row wins."""
        from pyspark.sql import Row

        from spark_binlog_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [Row(k="a", t=5), Row(k="a", t=10), Row(k="a", t=20), Row(k="b", t=7)]
        )
        right = spark.createDataFrame(
            [Row(k="a", rt=10, v="x"), Row(k="a", rt=15, v="y"), Row(k="b", rt=9, v="z")]
        )
        out = asof_join(left, right, on=["k"], left_time="t", right_time="rt",
                        value_cols=["rt", "v"])
        got = {(r["k"], r["t"]): (r["rt"], r["v"]) for r in out.collect()}
        assert got == {
            ("a", 5): (None, None),    # nothing at-or-before 5
            ("a", 10): (10, "x"),      # inclusive boundary
            ("a", 20): (15, "y"),      # latest preceding wins
            ("b", 7): (None, None),    # b's only right row is later
        }

    def test_tie_break_largest_wins_and_null_sorts_first(self, spark):
        """Duplicate (key, time) right rows: the LARGEST tie_break value
        wins deterministically, and a NULL tie_break loses to any
        non-null one (asc_nulls_first puts it earliest in the frame)."""
        from pyspark.sql import Row

        from spark_binlog_spark.operators.asof import asof_join

        left = spark.createDataFrame([Row(k="a", t=10), Row(k="b", t=10)])
        right = spark.createDataFrame(
            [
                # key a: three right rows at the same time, distinct offsets
                Row(k="a", rt=10, off=3, v="lo"),
                Row(k="a", rt=10, off=9, v="hi"),
                Row(k="a", rt=10, off=7, v="mid"),
                # key b: a NULL tie_break must lose to the non-null row
                Row(k="b", rt=10, off=None, v="null_tb"),
                Row(k="b", rt=10, off=1, v="real_tb"),
            ]
        )
        out = asof_join(
            left, right, on=["k"], left_time="t", right_time="rt",
            value_cols=["v"], tie_break="off",
        )
        got = {r["k"]: r["v"] for r in out.collect()}
        assert got == {"a": "hi", "b": "real_tb"}


class TestMinLabelComponents:
    def test_diameter_six_chain_converges_exactly(self, spark):
        """A 7-node path graph (diameter 6) — the unrolled-3-rounds form
        this replaced would mislabel the far end; the fixpoint loop must
        give every node the chain's min label, and an isolated pair plus
        a triangle must keep their own components."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions.dedup import min_label_components

        pairs = (
            # chain 10-11-...-16 (edges listed high-to-low to resist
            # any single-pass luck), diameter 6
            [Row(doc_a=i + 1, doc_b=i) for i in range(15, 9, -1)]
            # isolated pair and a triangle
            + [Row(doc_a=100, doc_b=101)]
            + [Row(doc_a=200, doc_b=201), Row(doc_a=201, doc_b=202), Row(doc_a=200, doc_b=202)]
        )
        out = min_label_components(spark.createDataFrame(pairs))
        got = {r["doc_id"]: r["component"] for r in out.collect()}
        assert got == {
            **{v: 10 for v in range(10, 17)},
            100: 100, 101: 100,
            200: 200, 201: 200, 202: 200,
        }

    @staticmethod
    def _union_find(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        # canonicalize to min-of-component
        return {x: find(x) for x in list(parent)}

    def test_star_components_matches_union_find_and_min_label(self, spark):
        """star_components (Kiveris two-phase) must produce the exact
        (vertex, min-of-component) map a union-find oracle computes —
        and agree with min_label_components — on a graph mixing a deep
        chain, a star, a cycle, bridges and an isolated pair."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions.dedup import (
            min_label_components,
            star_components,
        )

        edges = (
            [(i + 1, i) for i in range(10, 30)]          # 21-node chain
            + [(500, v) for v in range(40, 50)]           # star
            + [(60, 61), (61, 62), (62, 63), (63, 60)]    # cycle
            + [(30, 40)]                                  # bridge chain<->star... (30 in chain? 30 is chain end)
            + [(900, 901)]                                # isolated pair
        )
        want = self._union_find(edges)
        pairs = spark.createDataFrame([Row(doc_a=u, doc_b=v) for u, v in edges])
        got = {r["doc_id"]: r["component"] for r in star_components(pairs).collect()}
        assert got == want
        got_ml = {
            r["doc_id"]: r["component"]
            for r in min_label_components(pairs).collect()
        }
        assert got_ml == want

    def test_adaptive_components_both_branches_match_oracle(self, spark):
        """adaptive_components (r11): the driver union-find branch and
        the forced star branch (gate=0) must both equal the union-find
        oracle on the same mixed-topology graph — the gate is invisible
        to correctness.  Also: empty input yields an empty typed
        relation on the driver path."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions.dedup import adaptive_components

        edges = (
            [(i + 1, i) for i in range(10, 30)]
            + [(500, v) for v in range(40, 50)]
            + [(60, 61), (61, 62), (62, 63), (63, 60)]
            + [(900, 901), (900, 901), (901, 900)]  # dups + reversed: canon absorbs
        )
        want = self._union_find(edges)
        pairs = spark.createDataFrame([Row(doc_a=u, doc_b=v) for u, v in edges])
        got_driver = {
            r["doc_id"]: r["component"] for r in adaptive_components(pairs).collect()
        }
        assert got_driver == want
        got_star = {
            r["doc_id"]: r["component"]
            for r in adaptive_components(pairs, driver_max_edges=0).collect()
        }
        assert got_star == want

        empty = spark.createDataFrame([], "doc_a long, doc_b long")
        out = adaptive_components(empty)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["doc_id", "component"]

    def test_star_components_random_graphs_match_oracle(self, spark):
        """Randomized battery: star_components == union-find on 5
        seeded random graphs (the determinism contract is per-graph
        exactness, not luck)."""
        import random

        from pyspark.sql import Row

        from spark_binlog_spark.functions.dedup import star_components

        for seed in range(5):
            rng = random.Random(seed)
            n = 60
            edges = sorted(
                {
                    (max(u, v), min(u, v))
                    for u, v in (
                        (rng.randrange(n), rng.randrange(n)) for _ in range(45)
                    )
                    if u != v
                }
            )
            want = self._union_find(edges)
            pairs = spark.createDataFrame([Row(doc_a=u, doc_b=v) for u, v in edges])
            got = {
                r["doc_id"]: r["component"]
                for r in star_components(pairs).collect()
            }
            assert got == want, f"seed {seed}"

    def test_jump_label_components_matches_union_find(self, spark):
        """jump_label_components (r15, the adaptive big-graph path) must
        equal the union-find oracle and min_label_components on the
        mixed-topology graph (chain + star + cycle + bridge + isolated
        pair) and on seeded random graphs."""
        import random

        from pyspark.sql import Row

        from spark_binlog_spark.functions.dedup import jump_label_components

        edges = (
            [(i + 1, i) for i in range(10, 30)]
            + [(500, v) for v in range(40, 50)]
            + [(60, 61), (61, 62), (62, 63), (63, 60)]
            + [(30, 40)]
            + [(900, 901)]
        )
        want = self._union_find(edges)
        pairs = spark.createDataFrame([Row(doc_a=u, doc_b=v) for u, v in edges])
        got = {
            r["doc_id"]: r["component"]
            for r in jump_label_components(pairs).collect()
        }
        assert got == want
        for seed in range(3):
            rng = random.Random(seed)
            n = 60
            redges = sorted(
                {
                    (max(u, v), min(u, v))
                    for u, v in (
                        (rng.randrange(n), rng.randrange(n)) for _ in range(45)
                    )
                    if u != v
                }
            )
            want = self._union_find(redges)
            pairs = spark.createDataFrame(
                [Row(doc_a=u, doc_b=v) for u, v in redges]
            )
            got = {
                r["doc_id"]: r["component"]
                for r in jump_label_components(pairs).collect()
            }
            assert got == want, f"seed {seed}"

    def test_adaptive_big_graph_routes_through_jump_label(self, spark):
        """adaptive_components with gate=0 (forced big-graph branch)
        must still equal the oracle after the r15 reroute to
        jump_label_components."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions.dedup import adaptive_components

        edges = [(i + 1, i) for i in range(10, 30)] + [(900, 901)]
        want = self._union_find(edges)
        pairs = spark.createDataFrame([Row(doc_a=u, doc_b=v) for u, v in edges])
        got = {
            r["doc_id"]: r["component"]
            for r in adaptive_components(pairs, driver_max_edges=0).collect()
        }
        assert got == want

    @pytest.mark.parametrize("fn", ["jump", "min_label", "adaptive"])
    def test_component_loops_release_superseded_checkpoints(self, spark, fn):
        """Each fixpoint round localCheckpoints its labels; once the next
        round has materialized, the superseded ones must be released.
        After one run over a 16-vertex path and a triangle only the
        returned labels stay persisted, and they still equal the
        union-find oracle."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import dedup

        run = {
            "jump": dedup.jump_label_components,
            "min_label": dedup.min_label_components,
            "adaptive": lambda p: dedup.adaptive_components(p, driver_max_edges=0),
        }[fn]
        edges = [(i + 1, i) for i in range(15)] + [(50, 51), (51, 52), (50, 52)]
        pairs = spark.createDataFrame([Row(doc_a=u, doc_b=v) for u, v in edges])
        jsc = spark.sparkContext._jsc
        start = jsc.getPersistentRDDs().size()
        got = {r["doc_id"]: r["component"] for r in run(pairs).collect()}
        assert got == self._union_find(edges)
        assert jsc.getPersistentRDDs().size() <= start + 1

    def test_jump_label_deep_path_converges_in_log_rounds(self, spark):
        """The pointer-jump claim itself: a 128-node path (diameter
        127) must converge in ~log2(d) label rounds — min-label would
        need 127.  Instrumented via the per-round localCheckpoint
        count (1 seed + 8 rounds incl. the confirming one = 9;
        asserted <= 11 for slack)."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import dedup

        rounds = 0
        orig = dedup.DataFrame.localCheckpoint

        def counting(self, eager=True):
            nonlocal rounds
            rounds += 1
            return orig(self, eager=eager)

        pairs = spark.createDataFrame(
            [Row(doc_a=i + 1, doc_b=i) for i in range(127)]
        )
        dedup.DataFrame.localCheckpoint = counting
        try:
            got = {
                r["doc_id"]: r["component"]
                for r in dedup.jump_label_components(pairs).collect()
            }
        finally:
            dedup.DataFrame.localCheckpoint = orig
        assert got == {v: 0 for v in range(128)}
        assert rounds <= 11, f"pointer jumping regressed: {rounds} checkpoints"

    def test_star_components_deep_path_converges_in_log_rounds(self, spark):
        """The scale claim itself: a 128-node path (diameter 127) must
        converge in O(log^2 n) alternations — min-label would need 127
        full-edge shuffles here; the star form must finish in far fewer
        (asserted <= 12 by instrumenting the checkpoint count)."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import dedup

        rounds = 0
        orig = dedup.DataFrame.localCheckpoint

        def counting(self, eager=True):
            nonlocal rounds
            rounds += 1
            return orig(self, eager=eager)

        pairs = spark.createDataFrame(
            [Row(doc_a=i + 1, doc_b=i) for i in range(127)]
        )
        dedup.DataFrame.localCheckpoint = counting
        try:
            got = {
                r["doc_id"]: r["component"]
                for r in dedup.star_components(pairs).collect()
            }
        finally:
            dedup.DataFrame.localCheckpoint = orig
        assert got == {v: 0 for v in range(128)}
        # one checkpoint per round + the initial canon checkpoint
        assert rounds <= 12, f"took {rounds} checkpoints for diameter 127"


class TestDecodeBalance:
    def test_skewed_media_spreads_across_partitions(self, spark):
        """balance_decode_work: one huge blob must not pin a whole
        partition — range partitioning on (media_id, frame_idx) splits
        its frames across tasks, unlike media-keyed hashing."""
        from pyspark.sql import Row
        from pyspark.sql import functions as F

        from spark_binlog_spark.functions.multimodal import FRAME_SIZE, balance_decode_work, frame_plan

        rows = [Row(media_id=0, byte_len=200 * FRAME_SIZE)] + [
            Row(media_id=i, byte_len=FRAME_SIZE) for i in range(1, 21)
        ]
        plan = frame_plan(spark.createDataFrame(rows))  # 220 frames, 200 in blob 0
        balanced = balance_decode_work(plan, 8)
        sizes = [
            r["n"] for r in balanced.groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count("*").alias("n")).collect()
        ]
        assert sum(sizes) == 220
        # the giant blob's 200 frames cannot sit in one task
        assert max(sizes) < 100, sizes
        assert len(sizes) >= 4


class TestGridRangeJoin:
    def test_boundaries_and_cell_spans(self, spark):
        """grid_range_join: hi-exclusive, lo-inclusive, intervals
        spanning multiple cells found exactly once, grid-boundary
        points land correctly."""
        from pyspark.sql import Row

        from spark_binlog_spark.operators.rangejoin import grid_range_join

        intervals = spark.createDataFrame(
            [
                Row(k="a", iid=1, lo=0.0, hi=10.0),    # spans cells 0..5 at g=2
                Row(k="a", iid=2, lo=4.0, hi=6.0),     # exact cell boundaries
                Row(k="b", iid=3, lo=0.0, hi=100.0),
            ]
        )
        points = spark.createDataFrame(
            [
                Row(k="a", pid=1, v=0.0),    # lo-inclusive -> iid 1
                Row(k="a", pid=2, v=4.0),    # in both 1 and 2
                Row(k="a", pid=3, v=6.0),    # hi-exclusive for 2 -> only 1
                Row(k="a", pid=4, v=10.0),   # hi-exclusive for 1 -> nothing
                Row(k="b", pid=5, v=99.9),   # far cell of a wide interval
            ]
        )
        out = grid_range_join(points, intervals, on=["k"], point_col="v",
                              lo_col="lo", hi_col="hi", grid=2.0)
        got = sorted((r["pid"], r["iid"]) for r in out.collect())
        assert got == [(1, 1), (2, 1), (2, 2), (3, 1), (5, 3)]

    def test_range_count_matches_pair_join(self, spark):
        """grid_range_count (r14 — the linear-shuffle count form that
        replaced the pair join in q_grid_range_join after the sf10
        rung measured a ~10^10-row pair relation) must equal the pair
        join's aggregate on adversarial data: endpoint ties with point
        values, duplicate points, empty-key intervals, dense cells."""
        import random

        from pyspark.sql import Row
        from pyspark.sql import functions as F

        from spark_binlog_spark.operators.rangejoin import (
            grid_range_count,
            grid_range_join,
        )

        rng = random.Random(17)
        vals = [round(rng.uniform(0, 20), 1) for _ in range(300)]  # dup-heavy ties
        points = spark.createDataFrame(
            [Row(k=rng.choice("ab"), pid=i, v=v) for i, v in enumerate(vals)]
        )
        intervals = spark.createDataFrame(
            [
                Row(k=rng.choice("abc"), iid=i,  # 'c' has no points
                    lo=(lo := round(rng.uniform(-2, 20), 1)),
                    hi=round(lo + rng.choice([0.0, 0.5, 2.0, 7.3]), 1))
                for i in range(80)
            ]
        )
        want = {
            (r["k"], r["iid"]): r["n"]
            for r in grid_range_join(points, intervals, on=["k"], point_col="v",
                                     lo_col="lo", hi_col="hi", grid=2.0)
            .groupBy("k", "iid").agg(F.count("*").alias("n")).collect()
        }
        counted = grid_range_count(points, intervals, on=["k"], id_cols=["iid"],
                                   point_col="v", lo_col="lo", hi_col="hi", grid=2.0)
        got_all = {(r["k"], r["iid"]): r["n_inside"] for r in counted.collect()}
        assert len(got_all) == 80  # zero-count intervals included
        assert {k: v for k, v in got_all.items() if v > 0} == want


class TestIntervalOverlap:
    def test_cell_ownership_emits_each_pair_once(self, spark):
        """grid_interval_overlap: widely-overlapping intervals share
        many grid cells; the ownership rule must still emit exactly one
        row per overlapping pair, and touching-but-not-overlapping
        intervals (a.hi == b.lo) must not match."""
        from pyspark.sql import Row

        from spark_binlog_spark.operators.rangejoin import grid_interval_overlap

        a = spark.createDataFrame(
            [Row(k="x", ia=1, lo_a=0.0, hi_a=20.0), Row(k="x", ia=2, lo_a=5.0, hi_a=7.0),
             Row(k="x", ia=3, lo_a=20.0, hi_a=22.0)]
        )
        b = spark.createDataFrame(
            [Row(k="x", ib=10, lo_b=6.0, hi_b=30.0), Row(k="x", ib=11, lo_b=40.0, hi_b=41.0)]
        )
        out = grid_interval_overlap(a, b, on=["k"], lo_a="lo_a", hi_a="hi_a",
                                    lo_b="lo_b", hi_b="hi_b", grid=2.0)
        got = sorted((r["ia"], r["ib"]) for r in out.collect())
        # ia=1 overlaps ib=10 across 7 shared cells -> exactly once;
        # ia=2 overlaps ib=10; ia=3 overlaps ib=10 (20 < 30, 6 < 22)
        assert got == [(1, 10), (2, 10), (3, 10)]

    def test_overlap_count_matches_brute_force(self, spark):
        """interval_overlap_count (r14 — the linear-shuffle count form
        that replaced the pair stream in q_interval_overlap after the
        sf10 rung measured it as the slowest survivor) must equal the
        brute-force unordered-pair count on adversarial data: hi==lo
        touching ties (NOT overlaps), duplicate intervals, a
        single-interval key, an all-disjoint key (absent from the
        output), and mixed widths across many cells."""
        import itertools
        import random

        from pyspark.sql import Row

        from spark_binlog_spark.operators.rangejoin import interval_overlap_count

        rng = random.Random(23)
        rows = [
            Row(k=rng.choice("ab"),
                lo=(lo := round(rng.uniform(0, 20), 1)),
                hi=round(lo + rng.choice([0.5, 2.0, 2.0, 7.3]), 1))
            for _ in range(200)
        ]
        rows += [Row(k="solo", lo=1.0, hi=3.0)]                    # C(1,2)=0
        rows += [Row(k="gap", lo=float(4 * i), hi=float(4 * i + 2))  # touch-free
                 for i in range(5)]
        rows += [Row(k="touch", lo=0.0, hi=2.0), Row(k="touch", lo=2.0, hi=4.0)]
        want = {}
        for key, grp in itertools.groupby(
            sorted(rows, key=lambda r: r.k), key=lambda r: r.k
        ):
            g = list(grp)
            n = sum(
                1 for x, y in itertools.combinations(g, 2)
                if x.lo < y.hi and y.lo < x.hi
            )
            if n:
                want[key] = n
        out = interval_overlap_count(
            spark.createDataFrame(rows), on=["k"], lo_col="lo", hi_col="hi",
            grid=2.0,
        )
        got = {r["k"]: r["n_overlaps"] for r in out.collect()}
        assert got == want
        assert "solo" not in got and "gap" not in got and "touch" not in got


class TestRealMediaGating:
    def _media(self, spark):
        from pyspark.sql import Row

        from spark_binlog_spark.functions import multimodal

        docs = spark.createDataFrame([Row(doc_id=1, text="hello world")])
        return multimodal.as_media(docs, "doc_id", "text", "image")

    def test_fake_false_without_libs_raises_stub(self, spark):
        import pytest

        from spark_binlog_spark.functions import multimodal

        try:
            import PIL  # noqa: F401

            pytest.skip("PIL installed — stub not reachable for images")
        except ImportError:
            pass
        with pytest.raises(Exception, match="no encoder available"):
            multimodal.extract_features(self._media(spark), fake=False).collect()

    def test_real_wav_decode_via_stdlib_wave(self, spark):
        """A REAL (non-stub) decode path that runs dependency-free: a
        16-bit stereo PCM WAV built with stdlib wave goes through the
        full mapInPandas extract_features(fake=False) plan and comes
        back as the first channel's samples normalized by 2^15 —
        bit-exact, no PIL/soundfile needed."""
        import io
        import struct
        import wave as wave_mod

        from pyspark.sql import Row

        from spark_binlog_spark.functions import multimodal

        # stereo: L channel ramps 0,1000,2000..., R channel constant -5
        n = multimodal.FEATURE_DIM + 4
        frames = b"".join(
            struct.pack("<hh", i * 1000 % 32768, -5) for i in range(n)
        )
        buf = io.BytesIO()
        with wave_mod.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(16000)
            w.writeframes(frames)
        wav_bytes = buf.getvalue()

        media = spark.createDataFrame(
            [Row(media_id=7, content=bytearray(wav_bytes), media_type="audio",
                 byte_len=len(wav_bytes), content_key="x")]
        )
        feats = multimodal.extract_features(media, fake=False).collect()
        assert len(feats) == 1
        got = feats[0]["feature"]
        expected = [(i * 1000 % 32768) / 32768.0 for i in range(multimodal.FEATURE_DIM)]
        assert got == pytest.approx(expected, abs=1e-7)

        # mono 8-bit path too (unsigned samples)
        buf8 = io.BytesIO()
        with wave_mod.open(buf8, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(1)
            w.setframerate(8000)
            w.writeframes(bytes([0, 128, 255] + [128] * 32))
        v8 = multimodal._wav_features_stdlib(buf8.getvalue())
        assert v8[:3] == pytest.approx([-1.0, 0.0, 127 / 128.0])
        # non-WAV bytes stay None so soundfile/stub handling is reached
        assert multimodal._wav_features_stdlib(b"not a wav") is None

    def test_real_image_features_when_pil_present(self, spark):
        import pytest

        pytest.importorskip("PIL")
        import io

        from PIL import Image
        from pyspark.sql import Row

        from spark_binlog_spark.functions import multimodal

        buf = io.BytesIO()
        Image.new("L", (8, 8), color=200).save(buf, format="PNG")
        media = spark.createDataFrame(
            [Row(media_id=1, content=bytearray(buf.getvalue()),
                 media_type="image", byte_len=len(buf.getvalue()), content_key="x")]
        )
        feats = multimodal.extract_features(media, fake=False).collect()
        assert len(feats) == 1 and len(feats[0]["feature"]) == multimodal.FEATURE_DIM


class TestBucketedGapEquivalence:
    def test_random_offset_sets_match_global_lag(self, spark):
        """The two-level (in-bucket + summary) gap detection must equal
        the global-lag answer on adversarial offset sets: random drops,
        wholly-empty buckets, gaps spanning multiple buckets, bucket
        boundaries ±1."""
        import random

        from pyspark.sql import Row, Window
        from pyspark.sql import functions as F

        rng = random.Random(42)
        B = 16  # small bucket size to force many boundary cases

        def bucketed(df):
            kept = df.select("off", F.expr(f"off div {B}").alias("bucket"))
            w_in = Window.partitionBy("bucket").orderBy("off")
            in_b = kept.select("off", F.lag("off").over(w_in).alias("prev")).filter(
                F.col("prev").isNotNull() & (F.col("off") - F.col("prev") > 1)
            )
            summ = kept.groupBy("bucket").agg(
                F.min("off").alias("mn"), F.max("off").alias("mx")
            )
            w_b = Window.orderBy("bucket")
            bd = (
                summ.select("mn", F.lag("mx").over(w_b).alias("prev"))
                .filter(F.col("prev").isNotNull() & (F.col("mn") - F.col("prev") > 1))
                .select(F.col("mn").alias("off"), "prev")
            )
            return {(r["prev"], r["off"]) for r in in_b.select("off", "prev").unionByName(bd).collect()}

        def global_lag(df):
            w = Window.orderBy("off")
            g = df.select("off", F.lag("off").over(w).alias("prev")).filter(
                F.col("prev").isNotNull() & (F.col("off") - F.col("prev") > 1)
            )
            return {(r["prev"], r["off"]) for r in g.collect()}

        cases = []
        for _ in range(6):
            n = rng.randint(5, 200)
            offs = sorted(rng.sample(range(0, 400), n))
            cases.append(offs)
        # adversarial: exact bucket boundaries, empty middle buckets
        cases.append([0, 15, 16, 17, 31, 32, 96, 97])   # boundary ±1, empty 2..5
        cases.append([5, 100])                            # one giant gap
        cases.append([7])                                 # single offset
        for offs in cases:
            df = spark.createDataFrame([Row(off=o) for o in offs])
            assert bucketed(df) == global_lag(df), f"mismatch for {offs}"


class TestMultiTableDimGuard:
    def test_tables_past_vector_dim_failfast(self, spark):
        """planes * n_tables > dim must raise up front: past-the-end
        element_at throws under ANSI mode and silently folds every
        out-of-range dim to one bucket with ANSI off (collapsing the
        extra tables into an n² join)."""
        import pytest as _pytest
        from pyspark.sql import Row

        from spark_binlog_spark.functions import similarity

        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(i), 1.0, -1.0, 0.5]) for i in range(6)]
        )
        with _pytest.raises(ValueError, match="exceed the vector dimensionality"):
            similarity.embedding_near_dup_pairs(df, planes=4, n_tables=2)
        # derived planes self-cap so the same call with planes=None works
        out = similarity.embedding_near_dup_pairs(df, planes=None, n_tables=2)
        assert {"vec_a", "vec_b", "cosine4"} == set(out.columns)
        out.collect()  # no ANSI index error


class TestMediaHeaderProbe:
    def test_real_header_decode_all_formats(self, spark):
        """REAL dependency-free metadata decode: handcrafted-but-valid
        PNG/JPEG/GIF/BMP headers and a genuine stdlib-written WAV all
        probe to their true dimensions / audio properties through the
        distributed mapInPandas path."""
        import io
        import struct
        import wave

        from pyspark.sql import Row

        from spark_binlog_spark.functions.multimodal import probe_media_meta

        png = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + struct.pack(
            ">IIBBBBB", 640, 480, 8, 2, 0, 0, 0
        )
        # JPEG: SOI + APP0 (skipped by the marker scan) + SOF0 carrying
        # the frame dimensions
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 1080, 1920) + b"\x01"
        jpeg = b"\xff\xd8" + app0 + sof0
        gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 4
        bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 256, -128) + b"\x00" * 4
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(2)
            w.setsampwidth(2)
            w.setframerate(16000)
            w.writeframes(b"\x00\x00" * 8)
        wav = buf.getvalue()
        junk = b"not a media file at all"

        df = spark.createDataFrame(
            [
                Row(media_id=0, content=bytearray(png)),
                Row(media_id=1, content=bytearray(jpeg)),
                Row(media_id=2, content=bytearray(gif)),
                Row(media_id=3, content=bytearray(bmp)),
                Row(media_id=4, content=bytearray(wav)),
                Row(media_id=5, content=bytearray(junk)),
            ]
        )
        got = {r["media_id"]: r.asDict() for r in probe_media_meta(df).collect()}
        assert (got[0]["format"], got[0]["width"], got[0]["height"]) == ("png", 640, 480)
        assert (got[1]["format"], got[1]["width"], got[1]["height"]) == ("jpeg", 1920, 1080)
        assert (got[2]["format"], got[2]["width"], got[2]["height"]) == ("gif", 320, 200)
        assert (got[3]["format"], got[3]["width"], got[3]["height"]) == ("bmp", 256, 128)
        assert (got[4]["format"], got[4]["sample_rate"], got[4]["channels"]) == ("wav", 16000, 2)
        assert got[5]["format"] == "unknown" and got[5]["width"] is None

    def test_adversarial_but_spec_valid_headers(self, spark):
        """Spec-valid awkward files: WAV whose fmt chunk follows a JUNK
        chunk, an OS/2 BITMAPCOREHEADER BMP, a JPEG with 0xFF fill
        bytes before its SOF marker, and a JPEG whose SOF dims are the
        final bytes of the blob — all must probe correctly."""
        import struct

        from pyspark.sql import Row

        from spark_binlog_spark.functions.multimodal import _probe_header

        junk = b"JUNK" + struct.pack("<I", 6) + b"\x00" * 6
        fmt = b"fmt " + struct.pack("<I", 16) + struct.pack("<HHIIHH", 1, 1, 44100, 88200, 2, 16)
        wav_junk = b"RIFF" + struct.pack("<I", 4 + len(junk) + len(fmt)) + b"WAVE" + junk + fmt
        assert _probe_header(wav_junk) == ("wav", None, None, 44100, 1)

        os2_bmp = b"BM" + b"\x00" * 12 + struct.pack("<I", 12) + struct.pack(
            "<HHHH", 640, 480, 1, 8
        )
        assert _probe_header(os2_bmp) == ("bmp", 640, 480, None, None)

        sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 33, 44) + b"\x01"
        jpeg_fill = b"\xff\xd8" + b"\xff\xff\xff" + sof0[1:]  # fill bytes then SOF
        assert _probe_header(jpeg_fill) == ("jpeg", 44, 33, None, None)

        # SOF dims are the LAST bytes (i + 9 == len): must still parse
        jpeg_tail = b"\xff\xd8" + b"\xff\xc0" + struct.pack(">H", 8) + b"\x08" + struct.pack(">HH", 7, 9)
        assert _probe_header(jpeg_tail) == ("jpeg", 9, 7, None, None)


class TestApproxVariants:
    """The 100 TB drop-ins are CODE paths, not docstring promises
    (VERDICT r5 ask #7): approx=True swaps exact percentile/distinct
    for mergeable sketches in the same single-pass grouped plan, and
    the sketch answers stay within tolerance of the exact ones."""

    def test_corpus_report_approx_within_tolerance(self, spark):
        from tests.conftest import SF_TEST

        from spark_binlog_spark.queries_ext import q_corpus_report

        exact = {
            (r["source"], r["lang"]): r
            for r in q_corpus_report(spark, SF_TEST).collect()
        }
        approx = {
            (r["source"], r["lang"]): r
            for r in q_corpus_report(spark, SF_TEST, approx=True).collect()
        }
        assert set(exact) == set(approx)
        # the two middle order statistics per group — the bracket the
        # rank-based sketch median must land in (sf0.001: 500 docs)
        from spark_binlog_spark.cdc import load_table

        brackets = {}
        lengths = {}
        for r in load_table(spark, SF_TEST, "documents").select(
            "source", "lang", "n_chars"
        ).collect():
            lengths.setdefault((r["source"], r["lang"]), []).append(r["n_chars"])
        for key, vals in lengths.items():
            vals.sort()
            n = len(vals)
            brackets[key] = (vals[(n - 1) // 2], vals[n // 2])
        for key, e in exact.items():
            a = approx[key]
            # row counts and avg are sketch-free: identical
            assert a["n_docs"] == e["n_docs"]
            assert a["avg_stopword4"] == e["avg_stopword4"]
            # approx_percentile is RANK-based (returns a member value)
            # while exact percentile interpolates — the right contract
            # is the interpolation bracket: the sketch median must lie
            # between the two middle order statistics of the group
            lo, hi = brackets[key]
            assert lo <= a["p50_chars"] <= hi, (key, a["p50_chars"], lo, hi)
            # HLL++ default rsd = 5%; dup count = n - distinct, so allow
            # 15% of the DISTINCT magnitude (3 sigma) plus a small floor
            n_distinct = e["n_docs"] - e["n_exact_dups"]
            assert abs(a["n_exact_dups"] - e["n_exact_dups"]) <= max(
                2, 0.15 * n_distinct
            ), key

    def test_distinct_users_approx_within_tolerance(self, spark):
        from tests.conftest import SF_TEST

        from spark_binlog_spark.queries_cdc import q_distinct_users

        exact = {
            r["table_name"]: r for r in q_distinct_users(spark, SF_TEST).collect()
        }
        approx = {
            r["table_name"]: r
            for r in q_distinct_users(spark, SF_TEST, approx=True).collect()
        }
        assert set(exact) == set(approx)
        for t, e in exact.items():
            a = approx[t]
            assert a["n_events"] == e["n_events"]  # plain count: identical
            assert abs(a["n_users"] - e["n_users"]) <= max(
                2, 0.15 * e["n_users"]
            ), t

    def test_approx_plan_drops_the_distinct_stage(self, spark):
        """The scale rationale made checkable: exact countDistinct
        plans a two-level aggregation (group by (table, pk) first —
        an extra shuffle keyed on the DISTINCT column); the HLL path
        must plan one plain partial/final aggregate with a single
        exchange and no distinct rewrite."""
        from tests.conftest import SF_TEST

        from spark_binlog_spark.queries_cdc import q_distinct_users

        def physical(df):
            return df._jdf.queryExecution().executedPlan().toString()

        spark.conf.set("spark.sql.adaptive.enabled", "false")  # stable plan text
        try:
            exact_plan = physical(q_distinct_users(spark, SF_TEST))
            approx_plan = physical(q_distinct_users(spark, SF_TEST, approx=True))
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        assert exact_plan.count("Exchange") >= 2  # the shuffle approx removes
        assert approx_plan.count("Exchange") == 1
        assert "approx_count_distinct" in approx_plan
        assert "distinct" not in approx_plan.replace("approx_count_distinct", "")


class TestSemDedup:
    def test_drop_rule_and_smallest_id_always_kept(self, spark):
        """keep=false iff a smaller-id same-cluster neighbor scores >=
        threshold — verified directly against an exact recomputation on
        a small corpus; the smallest id in every cluster is always
        kept."""
        from itertools import combinations

        from spark_binlog_spark.functions.similarity import semdedup

        from tests.conftest import SF_TEST

        emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        out = {r["vec_id"]: r for r in semdedup(emb, n_centroids=4, threshold4=3000).collect()}
        assert set(out) == {r["vec_id"] for r in emb.select("vec_id").collect()}

        # exact reference: quantized cosine + seeded assignment in Python
        import math

        rows = emb.select("vec_id", "embedding").collect()
        q = {r["vec_id"]: [math.floor(float(x) * 1_000_000) for x in r["embedding"]] for r in rows}

        def dot(a, b):
            return sum(x * y for x, y in zip(a, b))

        def cos4(a, b):
            return math.floor(dot(a, b) / math.sqrt(dot(a, a) * dot(b, b)) * 10000)

        cents = {i: q[i] for i in sorted(q) if i < 4}
        assign = {}
        for vid, vec in q.items():
            best = max(cents, key=lambda c: (cos4(vec, cents[c]), -c))
            assign[vid] = best
        expect_drop = set()
        for a, b in combinations(sorted(q), 2):
            if assign[a] == assign[b] and cos4(q[a], q[b]) >= 3000:
                expect_drop.add(b)  # b is the larger id
        for vid, r in out.items():
            assert r["centroid_id"] == assign[vid], vid
            assert r["keep"] == (vid not in expect_drop), vid
        # smallest id per cluster can have no smaller neighbor
        for c in set(assign.values()):
            smallest = min(v for v, cc in assign.items() if cc == c)
            assert out[smallest]["keep"]


class TestBloomDecontaminate:
    def test_no_false_negatives_vs_exact(self, spark):
        """Bloom semantics can only OVER-flag: every doc the exact
        sweep flags is bloom-flagged, with n_flagged >= the exact hit
        count, and n_grams identical."""
        from pyspark.sql import functions as F

        from spark_binlog_spark.functions.dedup import bloom_decontaminate, decontaminate

        from tests.conftest import SF_TEST

        docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
        bench = docs.filter(F.col("doc_id") % 97 == 0)
        corpus = docs.filter(F.col("doc_id") % 97 != 0)
        exact = {r["doc_id"]: r for r in decontaminate(corpus, bench, n=4).collect()}
        bloom = {r["doc_id"]: r for r in bloom_decontaminate(corpus, bench, n=4).collect()}
        assert set(exact) <= set(bloom)
        for d, r in exact.items():
            assert bloom[d]["n_flagged"] >= r["n_hits"]
            assert bloom[d]["n_grams"] == r["n_grams"]


class TestSequencePack:
    def test_prefix_sums_and_pack_bounds(self, spark):
        """start_offset is the exclusive prefix sum per source in
        doc_id order (first doc of each source starts at 0), packs are
        floor-div boundaries, and pack_first <= pack_last always."""
        from collections import defaultdict

        from spark_binlog_spark.functions.text import SEQ_LEN, sequence_pack

        from tests.conftest import SF_TEST

        docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
        rows = sequence_pack(docs).collect()
        by_source = defaultdict(list)
        for r in rows:
            by_source[r["source"]].append(r)
        for src, rs in by_source.items():
            rs.sort(key=lambda r: r["doc_id"])
            cum = 0
            for r in rs:
                assert r["start_offset"] == cum, (src, r["doc_id"])
                assert r["pack_first"] == cum // SEQ_LEN
                assert r["pack_last"] == (cum + r["n_tokens"] - 1) // SEQ_LEN
                assert r["pack_first"] <= r["pack_last"]
                cum += r["n_tokens"]


class TestEpochShuffle:
    def test_permutation_contiguous_positions_epoch_sensitivity(self, spark):
        """The layout is a permutation (every doc exactly once), shard
        positions are contiguous 1..n, and a different epoch produces a
        different order."""
        from collections import defaultdict

        from spark_binlog_spark.functions.text import epoch_shuffle

        from tests.conftest import SF_TEST

        docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
        n = docs.count()
        e1 = epoch_shuffle(docs, epoch=1, n_shards=4).collect()
        assert len(e1) == n and len({r["doc_id"] for r in e1}) == n
        by_shard = defaultdict(list)
        for r in e1:
            assert 0 <= r["shard"] < 4
            by_shard[r["shard"]].append(r["position"])
        for shard, ps in by_shard.items():
            assert sorted(ps) == list(range(1, len(ps) + 1)), shard
        e2 = epoch_shuffle(docs, epoch=2, n_shards=4).collect()
        order1 = {r["doc_id"]: (r["shard"], r["position"]) for r in e1}
        order2 = {r["doc_id"]: (r["shard"], r["position"]) for r in e2}
        assert order1 != order2
        # re-running the same epoch is bit-identical
        e1b = epoch_shuffle(docs, epoch=1, n_shards=4).collect()
        assert order1 == {r["doc_id"]: (r["shard"], r["position"]) for r in e1b}


class TestHardNegatives:
    def test_labels_differ_and_ranks_contiguous(self, spark):
        from spark_binlog_spark.functions.similarity import hard_negatives

        from tests.conftest import SF_TEST

        emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        rows = hard_negatives(emb, n_anchors=5, k=3).collect()
        by_anchor = {}
        for r in rows:
            assert r["neg_label"] != r["anchor_label"]
            by_anchor.setdefault(r["anchor_id"], []).append(r["rank"])
        for a, ranks in by_anchor.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), a


class TestQualityClassifier:
    def test_scores_match_python_reference(self, spark):
        """weight_sum equals the exact Python recomputation of the
        hashed weights on a sample; keep == (weight_sum >= 0)."""
        import hashlib

        from spark_binlog_spark.functions.text import QC_RANGE, QC_SEED, quality_classifier

        from tests.conftest import SF_TEST

        # deterministic sample (limit without order could differ between
        # the two collects below)
        docs = spark.read.parquet(f"{SF_TEST}/documents.parquet").filter("doc_id < 20")
        got = {r["doc_id"]: r for r in quality_classifier(docs).collect()}
        for row in docs.collect():
            ws = row["text"].split(" ")
            s = 0
            for w in ws:
                h = int(hashlib.md5(f"{w}#{QC_SEED}".encode()).hexdigest()[:12], 16)
                s += (h % QC_RANGE) - (QC_RANGE - 1) // 2
            r = got[row["doc_id"]]
            assert r["weight_sum"] == s and r["n_words"] == len(ws)
            assert r["keep"] == (s >= 0)


class TestIvfadc:
    def test_candidates_come_from_query_cell_and_ranks_contiguous(self, spark):
        """Every returned candidate shares the query's coarse cell
        (nprobe=1 contract), ranks are contiguous 1..k, and scores are
        valid quantized cosines."""
        import math

        from spark_binlog_spark.functions.similarity import ivfadc_topk_with_recall

        from tests.conftest import SF_TEST

        emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        rows = ivfadc_topk_with_recall(emb, n_queries=5, k=10).collect()
        assert len(rows) == 50

        # exact Python recomputation of the seeded coarse assignment
        vecs = {
            r["vec_id"]: [math.floor(float(x) * 1_000_000) for x in r["embedding"]]
            for r in emb.select("vec_id", "embedding").collect()
        }

        def dot(a, b):
            return sum(x * y for x, y in zip(a, b))

        def cos4(a, b):
            return math.floor(dot(a, b) / math.sqrt(dot(a, a) * dot(b, b)) * 10000)

        cents = {i: vecs[i] for i in sorted(vecs) if i < 8}
        cell = {
            vid: max(cents, key=lambda c: (cos4(v, cents[c]), -c))
            for vid, v in vecs.items()
        }
        by_q = {}
        for r in rows:
            assert cell[r["vec_id"]] == cell[r["query_id"]], r
            assert -10000 <= r["pcos4"] <= 10000
            assert r["in_exact"] in (0, 1)
            by_q.setdefault(r["query_id"], []).append(r["rank"])
        for q, ranks in by_q.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


class TestUnimaxAllocation:
    def test_waterfill_invariants_and_hand_case(self, spark):
        """UniMax invariants on a hand-built corpus: the capped set is
        an ascending-cap prefix, capped groups get exactly their cap,
        uncapped groups share the remainder evenly (within 1 token of
        each other by the single floored division), and total
        allocation never exceeds the budget."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions.text import unimax_allocation

        # tokens: a=2, b=4, c=10  (caps 4, 8, 20 at E=2)
        # budget = floor(16 * 3/2) = 24: a capped (4*3=12 < 24),
        # b capped (8*2=16 < 24-4=20), c gets 24-12=12 < its 20 cap
        docs = spark.createDataFrame(
            [
                Row(doc_id=1, lang="a", text="t1 t2"),
                Row(doc_id=2, lang="b", text="t1 t2 t3 t4"),
                Row(doc_id=3, lang="c", text=" ".join(f"t{i}" for i in range(10))),
            ]
        )
        rows = {r["lang"]: r for r in unimax_allocation(docs).collect()}
        assert rows["a"]["capped"] and rows["a"]["alloc_tokens"] == 4
        assert rows["b"]["capped"] and rows["b"]["alloc_tokens"] == 8
        assert not rows["c"]["capped"] and rows["c"]["alloc_tokens"] == 12
        assert rows["a"]["epochs4"] == 20000  # exactly the 2-epoch cap
        assert rows["c"]["epochs4"] == 12000  # 1.2 epochs
        assert sum(r["alloc_tokens"] for r in rows.values()) <= 24

    def test_all_groups_capped_when_budget_covers_caps(self, spark):
        """budget >= sum(caps) caps EVERY group (n_groups == n_capped):
        the share divisor is explicitly guarded (ADVICE r8) so the plan
        neither divides by zero nor rests on CaseWhen laziness — every
        group gets exactly its cap."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions.text import unimax_waterfill

        per = spark.createDataFrame(
            [Row(grp="a", n_tokens=2), Row(grp="b", n_tokens=4)]
        )
        # budget = floor(6 * 10) = 60 >= caps 4 + 8
        rows = {r["lang"]: r for r in unimax_waterfill(
            per, budget_num=10, budget_den=1
        ).collect()}
        assert all(r["capped"] for r in rows.values())
        assert rows["a"]["alloc_tokens"] == 4 and rows["b"]["alloc_tokens"] == 8
        assert all(r["epochs4"] == 20000 for r in rows.values())

    def test_no_group_exceeds_cap_on_real_corpus(self, spark):
        from spark_binlog_spark.functions.text import unimax_allocation

        from tests.conftest import SF_TEST

        docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
        rows = unimax_allocation(docs).collect()
        for r in rows:
            assert r["alloc_tokens"] <= r["cap_tokens"]
            assert r["epochs4"] <= 20000
        total = sum(r["n_tokens"] for r in rows)
        assert sum(r["alloc_tokens"] for r in rows) <= total * 3 // 2


class TestDsirImportance:
    def test_gram_counts_signal_direction_and_keep(self, spark):
        """n_grams = 2*len-1 (unigrams + bigrams), target-language raw
        docs score above docs in a disjoint-vocabulary language, keep
        only fires on raw docs, and every doc appears exactly once."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions.text import dsir_importance

        en = "the cat sat on the mat and the dog ran"
        de = "der hund lief und die katze sass auf der matte"
        docs = spark.createDataFrame(
            [Row(doc_id=i, lang="en", text=en) for i in range(4)]
            + [Row(doc_id=10 + i, lang="xx", text=en) for i in range(2)]  # raw, en-like
            + [Row(doc_id=20 + i, lang="xx", text=de) for i in range(2)]  # raw, disjoint
        )
        rows = {r["doc_id"]: r for r in dsir_importance(docs).collect()}
        assert len(rows) == 8
        n_words = len(en.split())
        assert rows[0]["n_grams"] == 2 * n_words - 1
        # en-like raw docs must out-score disjoint-vocab raw docs
        assert rows[10]["avg4"] > rows[20]["avg4"]
        # target docs never kept (resampling selects from the raw pool)
        assert not rows[0]["keep"]
        assert rows[10]["keep"]  # positive-scoring raw doc


    def test_lr_table_overflow_guard(self, spark):
        """Gram totals past the int64-safe envelope raise loudly instead
        of wrapping silently under non-ANSI long multiply (ADVICE r8);
        in-range totals still produce the exact integer lr4."""
        import pytest
        from pyspark.sql import Row

        from spark_binlog_spark.functions.text import dsir_lr_table

        ok = spark.createDataFrame(
            [Row(bucket=0, p=99, q=0), Row(bucket=1, p=0, q=99)]
        )
        rows = {r["bucket"]: r for r in dsir_lr_table(ok, n_buckets=2).collect()}
        # pt = qt = 99, B = 2; bucket 0:
        # (100 * 10000 * 101) div (1 * 101) - 10000 = 990000
        assert rows[0]["lr4"] == 990000

        big = 10**9  # (pt+B)*(qt+B) ~ 10^18 >> the 9e14 safe envelope
        bad = spark.createDataFrame([Row(bucket=0, p=big, q=big)])
        with pytest.raises(Exception, match="int64-safe"):
            dsir_lr_table(bad, n_buckets=1).collect()


class TestCcnetBuckets:
    def test_tercile_sizes_and_ordering(self, spark):
        """Each language's buckets partition its docs; head docs never
        score below a middle doc of the same language, middle never
        below tail; head holds >= a third of the language's docs (the
        marginal-bin-inclusive cut) and head+middle >= two thirds."""
        from collections import defaultdict

        from spark_binlog_spark.functions.text import ccnet_buckets

        from tests.conftest import SF_TEST

        docs = spark.read.parquet(f"{SF_TEST}/documents.parquet")
        rows = ccnet_buckets(docs).collect()
        assert len(rows) == docs.count()
        by_lang = defaultdict(lambda: defaultdict(list))
        for r in rows:
            by_lang[r["lang"]][r["bucket"]].append(r["lm_famil6"])
        for lang, buckets in by_lang.items():
            n = sum(len(v) for v in buckets.values())
            h, m, t = (len(buckets.get(b, [])) for b in ("head", "middle", "tail"))
            assert 3 * h >= n, (lang, h, n)
            assert 3 * (h + m) >= 2 * n, (lang, h, m, n)
            if buckets.get("head") and buckets.get("middle"):
                assert min(buckets["head"]) >= max(buckets["middle"]) - 9999
            if buckets.get("middle") and buckets.get("tail"):
                assert min(buckets["middle"]) >= max(buckets["tail"]) - 9999


class TestClusterBalancedSample:
    def test_quota_balance_and_determinism(self, spark):
        """Every vector appears once with a contiguous per-cluster rank,
        kept counts are min(quota, cluster size) — never more — and the
        sample is identical across runs (reproducible shuffle key)."""
        from collections import Counter, defaultdict

        from spark_binlog_spark.functions.similarity import cluster_balanced_sample

        from tests.conftest import SF_TEST

        emb = spark.read.parquet(f"{SF_TEST}/embeddings.parquet")
        rows = cluster_balanced_sample(emb, n_clusters=8).collect()
        assert len(rows) == emb.count()
        quota = rows[0]["quota"]
        assert quota == len(rows) // 16  # budget 1/2 over 8 clusters
        by_c = defaultdict(list)
        for r in rows:
            by_c[r["cluster"]].append(r)
        kept = Counter()
        for c, rs in by_c.items():
            assert sorted(r["r"] for r in rs) == list(range(1, len(rs) + 1))
            kept[c] = sum(1 for r in rs if r["keep"])
            assert kept[c] == min(quota, len(rs))
        again = {(r["vec_id"], r["keep"]) for r in
                 cluster_balanced_sample(emb, n_clusters=8).collect()}
        assert again == {(r["vec_id"], r["keep"]) for r in rows}


class TestSketches:
    def test_cms_overestimates_and_is_exact_without_collisions(self, spark):
        """CMS point queries NEVER undercount; with a vocabulary far
        below the grid width the min-row estimate is exact for
        uncollided terms and every estimate >= truth."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import sketch

        docs = spark.createDataFrame(
            [Row(doc_id=i, text=" ".join(["alpha"] * 5 + ["beta"] * 2 + [f"w{i}"]))
             for i in range(10)]
        )
        grid = sketch.cms_build(docs)
        terms = spark.createDataFrame(
            [Row(term="alpha"), Row(term="beta"), Row(term="w3"), Row(term="missing")]
        )
        est = {r["term"]: r["est_cnt"] for r in sketch.cms_estimate(grid, terms).collect()}
        truth = {"alpha": 50, "beta": 20, "w3": 1, "missing": 0}
        for t, want in truth.items():
            assert est[t] >= want
        # d=4 rows, w=1024 cols, 12 distinct terms: at least the two
        # heavy terms resolve exactly (collision there would need a
        # 4-fold simultaneous clash)
        assert est["alpha"] == 50 and est["beta"] == 20

    def test_cms_grid_is_additive(self, spark):
        """cms_build over a union equals the cell-wise sum of the two
        halves' grids — the monoid property the streaming sink and any
        distributed corpus merge rely on."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import sketch

        a = spark.createDataFrame([Row(doc_id=1, text="x y z x")])
        b = spark.createDataFrame([Row(doc_id=2, text="y q r s t")])
        full = sketch.cms_build(a.unionByName(b))
        summed = (
            sketch.cms_build(a).unionByName(sketch.cms_build(b))
            .groupBy("row", "col").sum("cnt")
            .withColumnRenamed("sum(cnt)", "cnt")
        )
        assert sorted(map(tuple, full.collect())) == sorted(
            map(tuple, summed.collect())
        )

    def test_hll_register_bounds_and_accuracy(self, spark):
        """Registers stay within [1, suffix_bits+1] and m per group;
        the corrected estimate lands within 3 standard errors
        (3 * 1.04/sqrt(m)) of a 2000-distinct truth."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import sketch

        n = 2000
        docs = spark.createDataFrame(
            [Row(doc_id=i, source="s", text=" ".join(f"tok{i}_{j}" for j in range(10)))
             for i in range(n // 10)]
        )
        regs = sketch.hll_registers(docs)
        rows = regs.collect()
        assert len(rows) <= sketch.HLL_M
        assert all(1 <= r["m_rho"] <= sketch.HLL_SUFFIX_BITS + 1 for r in rows)
        (est,) = sketch.hll_estimate(regs).collect()
        rel_err = abs(est["est_distinct"] - n) / n
        assert rel_err < 3 * 1.04 / (sketch.HLL_M ** 0.5)

    def test_logbin_histogram_quantiles_vs_exact(self, spark):
        """Sketch quantiles sit at or below the exact discrete quantile
        with relative error <= 2^-HIST_M; small values (< 2^m) are
        EXACT because their bins are singletons."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import sketch

        # group 'small': every doc has < 32 tokens -> exact quantiles
        # group 'big': token counts span the log-binned range
        rows = [Row(doc_id=i, source="small", text=" ".join(["w"] * (1 + i % 20)))
                for i in range(40)]
        rows += [Row(doc_id=100 + i, source="big",
                     text=" ".join(["w"] * ((i + 1) * 37)))
                 for i in range(60)]
        docs = spark.createDataFrame(rows)
        got = {r["source"]: r for r in sketch.hist_quantiles(
            sketch.hist_build(docs)).collect()}
        exact_hist = (
            docs.selectExpr("source", f"{sketch.token_count_expr()} AS bin_id")
            .groupBy("source", "bin_id").count()
            .withColumnRenamed("count", "cnt")
        )
        want = {r["source"]: r for r in sketch.hist_quantiles(
            exact_hist, exact=True).collect()}
        for name, _, _ in sketch.HIST_QS:
            assert got["small"][name] == want["small"][name]
            lo, hi = got["big"][name], want["big"][name]
            assert lo <= hi and (hi - lo) <= hi / (1 << sketch.HIST_M)

    def test_logbin_histogram_is_additive(self, spark):
        """hist_build over a union equals the bin-wise sum of the two
        halves' histograms — the monoid the streaming sink relies on."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import sketch

        a = spark.createDataFrame(
            [Row(doc_id=i, source="s", text=" ".join(["w"] * (i + 1)))
             for i in range(30)]
        )
        b = spark.createDataFrame(
            [Row(doc_id=100 + i, source="s", text=" ".join(["w"] * (i * 11 + 5)))
             for i in range(30)]
        )
        full = sketch.hist_build(a.unionByName(b))
        summed = (
            sketch.hist_build(a).unionByName(sketch.hist_build(b))
            .groupBy("source", "bin_id").sum("cnt")
            .withColumnRenamed("sum(cnt)", "cnt")
        )
        assert sorted(map(tuple, full.collect())) == sorted(
            map(tuple, summed.collect())
        )

    def test_kmv_exact_below_k_and_jaccard(self, spark):
        """With every vocabulary below k the bottom-k sketch IS the
        full hash set, so the union-rank Jaccard equals the exact
        Jaccard in 1e-4 units (floor convention)."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import sketch

        # a: {w0..w59}, b: {w30..w89} -> |inter|=30, |union|=90, J=1/3
        docs = spark.createDataFrame(
            [Row(doc_id=1, source="a", text=" ".join(f"w{i}" for i in range(60))),
             Row(doc_id=2, source="b", text=" ".join(f"w{i}" for i in range(30, 90)))]
        )
        sk = sketch.kmv_sketch(docs)
        assert sk.groupBy("source").count().orderBy("source").collect()[0][1] == 60
        (row,) = sketch.kmv_jaccard(sk).collect()
        assert (row["src_a"], row["src_b"]) == ("a", "b")
        assert row["kk"] == 90 and row["inter"] == 30
        assert row["jacc4"] == 3333

    def test_kmv_union_retake_monoid(self, spark):
        """kmv_sketch over a union equals bottom-k of the two halves'
        sketches unioned — and re-merging one half changes nothing
        (the idempotent property the sink's replay path relies on)."""
        from pyspark.sql import Row
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from spark_binlog_spark.functions import sketch

        a = spark.createDataFrame(
            [Row(doc_id=i, source="s", text=" ".join(f"a{i}_{j}" for j in range(40)))
             for i in range(10)]
        )
        b = spark.createDataFrame(
            [Row(doc_id=100 + i, source="s", text=" ".join(f"b{i}_{j}" for j in range(40)))
             for i in range(10)]
        )
        full = sorted(map(tuple, sketch.kmv_sketch(a.unionByName(b)).collect()))
        w = Window.partitionBy("source").orderBy("h")
        merged = (
            sketch.kmv_sketch(a).unionByName(sketch.kmv_sketch(b))
            .unionByName(sketch.kmv_sketch(a))  # replay half a
            .distinct()
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= sketch.KMV_K)
            .select("source", "h")
        )
        assert sorted(map(tuple, merged.collect())) == full

    def test_bpe_learn_hand_trace(self, spark):
        """Two hand-computed merge steps on a 4-word corpus: ties break
        lexicographically ('</w>' < 'a' in binary order), and merged
        symbols participate in later pair counts."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import bpe

        docs = spark.createDataFrame(
            [Row(doc_id=1, text="aa aa aa ab")]
        )
        out = bpe.bpe_learn(spark, bpe.bpe_vocab(docs), steps=2).collect()
        # step 1: (a,a):3, (a,</w>):3, (a,b):1, (b,</w>):1 -> tie on 3,
        # '</w>' sorts before 'a', so (a, </w>) merges first
        assert (out[0]["step"], out[0]["lhs"], out[0]["rhs"], out[0]["pair_cnt"]) == (
            1, "a", "</w>", 3)
        assert out[0]["merged"] == "a</w>"
        # step 2: 'aa' is now [a, a</w>] -> (a, a</w>):3 dominates
        assert (out[1]["step"], out[1]["lhs"], out[1]["rhs"], out[1]["pair_cnt"]) == (
            2, "a", "a</w>", 3)

    def test_bpe_learn_adaptive_branches_agree(self, spark):
        """The r11 driver-gate branch and the distributed loop (forced
        via driver_max_words=0) must emit the IDENTICAL merge table —
        same pairs, same order, same counts — on a corpus with ties,
        multi-step merge interactions and an early-stop tail."""
        from tests.conftest import SF_TEST

        from spark_binlog_spark.functions import bpe

        docs = spark.read.parquet(f"{SF_TEST}/documents.parquet").limit(120)
        vocab = bpe.bpe_vocab(docs)
        drv = [tuple(r) for r in bpe.bpe_learn(spark, vocab, steps=6).collect()]
        dist = [
            tuple(r)
            for r in bpe.bpe_learn(
                spark, vocab, steps=6, driver_max_words=0
            ).collect()
        ]
        assert drv == dist and len(drv) >= 1

    def test_bpe_tokenize_stats_hand_case(self, spark):
        """After the two hand-traced merges on 'aa aa aa ab', tokenize
        stats per source: 'aa' segments to [a, a</w>]... then step-2
        merges it to [aa</w>] (1 subword); 'ab' stays [a, b, </w>]
        (3 subwords)."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import bpe

        docs = spark.createDataFrame(
            [Row(doc_id=1, source="s", text="aa aa aa ab")]
        )
        (row,) = bpe.bpe_tokenize_stats(spark, docs, steps=2).collect()
        # steps: (a,</w>) then (a,a</w>) -> 'aa' = [aa</w>], 'ab' = [a,b,</w>]
        assert row["n_words"] == 4
        assert row["n_subwords"] == 3 * 1 + 1 * 3
        assert row["subwords_per_word4"] == 15000

    def test_bpe_oracle_survives_fewer_merges_than_steps(self, spark, duck):
        """ADVICE r9 (medium): when the corpus yields fewer learnable
        merges than `steps`, an empty m{i} used to annihilate the
        oracle's CROSS JOIN chain — DuckDB returned zero rows while
        Spark (early-stop in bpe_learn) returned real stats.  The NULL
        sentinel keeps every m{i} at exactly one row; assert both
        engines agree on a corpus that exhausts after 2 merges."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import bpe

        docs = spark.createDataFrame([Row(doc_id=1, source="s", text="a a b")])
        duck.execute("CREATE OR REPLACE TABLE bpe_tiny AS SELECT 's' AS source, 'a a b' AS text")
        # learn: merges exhaust at step 2 ((a,</w>) then (b,</w>))
        got = bpe.bpe_learn(spark, bpe.bpe_vocab(docs), steps=6).collect()
        want = duck.execute(bpe.bpe_sql(steps=6, table="bpe_tiny")).fetchall()
        assert [(r["step"], r["lhs"], r["rhs"], r["merged"], r["pair_cnt"]) for r in got] == [
            (1, "a", "</w>", "a</w>", 2), (2, "b", "</w>", "b</w>", 1)]
        assert sorted(want) == [(1, "a", "</w>", "a</w>", 2), (2, "b", "</w>", "b</w>", 1)]
        # tokenize: the old oracle returned ZERO rows here
        (srow,) = bpe.bpe_tokenize_stats(spark, docs, steps=6).collect()
        (drow,) = duck.execute(
            bpe.bpe_tokenize_sql(steps=6, table="bpe_tiny")).fetchall()
        assert (srow["source"], srow["n_words"], srow["n_subwords"],
                srow["subwords_per_word4"]) == ("s", 3, 3, 10000)
        assert drow == ("s", 3, 3, 10000)
        duck.execute("DROP TABLE bpe_tiny")

    def test_bpe_merge_fold_is_greedy_left_to_right(self, spark):
        """The fold glues non-overlapping occurrences left to right:
        'aaa' under merge (a,a) becomes [aa, a], never [a, aa]."""
        from spark_binlog_spark.functions.bpe import _merge_expr

        df = spark.createDataFrame(
            [(["a", "a", "a", "</w>"],), (["a", "b", "a", "a", "</w>"],)],
            "syms: array<string>",
        )
        got = [r[0] for r in df.selectExpr(_merge_expr("a", "a")).collect()]
        assert got == [["aa", "a", "</w>"], ["a", "b", "aa", "</w>"]]

    def test_priority_sample_weight_and_monoid(self, spark):
        """A row whose weight dwarfs its hash always wins a slot
        (priority ~ 0); the per-group sample is exactly the k
        lowest-priority rows; and sampling a union equals re-taking
        bottom-k over the halves' samples (the shard-merge monoid)."""
        from pyspark.sql import Row
        from pyspark.sql import functions as F

        from spark_binlog_spark.functions import sketch

        rows = [Row(doc_id=i, source="s", w=1) for i in range(500)]
        rows.append(Row(doc_id=999, source="s", w=1 << 50))
        df = spark.createDataFrame(rows)
        got = sketch.priority_sample(df, weight=F.col("w"), k=16).collect()
        assert len(got) == 16
        assert any(r["doc_id"] == 999 for r in got)  # heavy row always in
        # exactness: the sample is the global bottom-16 by (priority, id)
        import hashlib

        def h48(v):
            return int(hashlib.md5(str(v).encode()).hexdigest()[:12], 16)

        want_ids = sorted(
            ((h48(r.doc_id) // r.w, r.doc_id) for r in rows)
        )[:16]
        assert sorted((r["priority"], r["doc_id"]) for r in got) == want_ids
        # monoid: union sample == bottom-k over halves' samples
        a = spark.createDataFrame(rows[:250])
        b = spark.createDataFrame(rows[250:])
        full = sorted(map(tuple, got))
        halves = sketch.priority_sample(a, weight=F.col("w"), k=16).unionByName(
            sketch.priority_sample(b, weight=F.col("w"), k=16))
        retaken = sorted(map(tuple, sketch.bottom_k(
            halves, "source", ["priority", "doc_id"], 16).collect()))
        assert retaken == full

    def test_hll_rho_integer_chain_matches_bin_length(self, spark):
        """r14: the pure-integer WHEN-chain _rho must equal the old
        length(conv(x, 10, 2)) rendering (which the DuckDB oracle still
        uses) on every power-of-two boundary of the suffix domain plus
        the endpoints."""
        from pyspark.sql import Row
        from pyspark.sql import functions as F

        from spark_binlog_spark.functions import sketch

        vals = {0, 1, 2, 3, (1 << sketch.HLL_SUFFIX_BITS) - 1}
        for k in range(1, sketch.HLL_SUFFIX_BITS):
            vals.update({(1 << k) - 1, 1 << k, (1 << k) + 1})
        df = spark.createDataFrame([Row(s=int(v)) for v in sorted(vals)])
        old_bits = F.length(F.conv(F.col("s").cast("string"), 10, 2))
        old = F.when(F.col("s") == 0, F.lit(sketch.HLL_SUFFIX_BITS + 1)).otherwise(
            F.lit(sketch.HLL_SUFFIX_BITS) - old_bits + 1
        ).cast("long")
        rows = df.select(
            "s", sketch._rho(F.col("s")).alias("new"), old.alias("old")
        ).collect()
        assert all(r["new"] == r["old"] for r in rows), [
            (r["s"], r["new"], r["old"]) for r in rows if r["new"] != r["old"]
        ]

    def test_hll_registers_max_merge(self, spark):
        """hll_registers over a union equals the register-wise max of
        the halves — and re-merging one half changes nothing (the
        idempotent-monoid property the sink's replay path relies on)."""
        from pyspark.sql import Row

        from spark_binlog_spark.functions import sketch
        from pyspark.sql import functions as F

        a = spark.createDataFrame([Row(doc_id=1, source="s", text="x y z")])
        b = spark.createDataFrame([Row(doc_id=2, source="s", text="y q r")])
        full = sorted(map(tuple, sketch.hll_registers(a.unionByName(b)).collect()))
        merged = (
            sketch.hll_registers(a).unionByName(sketch.hll_registers(b))
            .unionByName(sketch.hll_registers(a))  # replay half a
            .groupBy("source", "idx").agg(F.max("m_rho").alias("m_rho"))
        )
        assert sorted(map(tuple, merged.collect())) == full


class TestPatternTopkModel:
    def test_pattern_topk_matches_python_model(self, spark):
        """r14 distributive form: pattern_topk's dist AND the
        algebraically folded cdist (w^2*dist - w*(vsum-psum)^2) must
        equal a per-window Python model that builds every vector
        explicitly — over keys with ties, exact matches, and series
        shorter than the pattern."""
        import math

        from spark_binlog_spark.functions.timeseries import QUANT, pattern_topk

        pattern = [3, -1, 4, 1]
        w, psum = len(pattern), sum(pattern)
        series = {
            "u1": [0.03, -0.01, 0.04, 0.01, 0.03, -0.01, 0.04, 0.01],  # 2 exact hits
            "u2": [1.0, 2.0, 3.0, 4.0, 5.0],
            "u3": [0.0, 0.0, 0.0],  # shorter than the pattern: no window
            "u4": [0.03, -0.01, 0.04, 0.01],  # exactly one window, exact hit (tie w/ u1)
        }
        rows = [
            (u, i + 1, v) for u, vs in series.items() for i, v in enumerate(vs)
        ]
        df = spark.createDataFrame(rows, "user_id string, event_id long, value double")

        # python model: explicit windows, both distances from first principles
        model = []
        for u, vs in series.items():
            q = [math.floor(v * QUANT) for v in vs]
            for s in range(len(q) - w + 1):
                vec = q[s : s + w]
                dist = sum((a - b) * (a - b) for a, b in zip(vec, pattern))
                vsum = sum(vec)
                cdist = sum(
                    ((a * w - vsum) - (b * w - psum)) ** 2
                    for a, b in zip(vec, pattern)
                )
                model.append((u, s + 1, dist, cdist))
        model.sort(key=lambda t: (t[2], t[0], t[1]))
        got = [
            (r["key"], r["win_start"], r["dist"], r["cdist"])
            for r in pattern_topk(
                df, pattern, k=6, key_col="user_id", order_col="event_id"
            ).collect()
        ]
        assert got == model[:6]
        # the two exact-match windows rank first with dist == 0
        assert got[0][2] == 0 and got[1][2] == 0
