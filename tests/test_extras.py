"""Cross-checks for paths not covered elsewhere: fused vs declarative
classification, indexed bbox equivalence, stateful streaming monitor."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from ingest_spark.functions import tags as tg
from ingest_spark.operators import extract, spatial
from ingest_spark.operators.features import with_feature_type
from ingest_spark.sources import pages as pages_src


_keys = list(tg.PRIORITY_KEYS) + ["name", "zzz", "area"]
_vals = ["cafe", "park", "water", "yes", "no", "unknown_value", "x y", ""]


class TestClassifyAgreement:
    @given(
        st.dictionaries(st.sampled_from(_keys), st.sampled_from(_vals), max_size=5)
    )
    @settings(max_examples=300, deadline=None)
    def test_classify_kv_equals_classify(self, tags):
        """The split (JVM key-scan + python kv lookup) must equal the
        one-shot dict classifier for any tag map."""
        full = tg.classify(tags)
        key = next((k for k in tg.PRIORITY_KEYS if k in tags), None)
        split = tg.classify_kv(key, tags.get(key) if key else None)
        assert split == full

    def test_declarative_join_equals_python(self, spark):
        """with_feature_type (broadcast joins) == tags.classify row-wise."""
        rows = [
            (1, {"amenity": "cafe"}),
            (2, {"leisure": "park", "name": "x"}),
            (3, {}),
            (4, {"name": "only name"}),
            (5, {"amenity": "zzz_unknown"}),
            (6, {"natural": "water", "amenity": "cafe"}),  # priority: amenity first
            (7, {"waterway": "river"}),
        ]
        df = spark.createDataFrame(rows, "id long, tags map<string,string>")
        got = {r.id: r.feature_type for r in with_feature_type(df, spark).collect()}
        want = {i: tg.classify(t) for i, t in rows}
        assert got == want


class TestIndexedBbox:
    def test_indexed_equals_plain(self, spark):
        import __spark_entry__ as em
        pts = em._points(spark, "/root/testdata/sf0.01").select(
            "id", F.col("lon").alias("minx"), F.col("lat").alias("miny"),
            F.col("lon").alias("maxx"), F.col("lat").alias("maxy"),
        )
        feats = spatial.with_cells(pts).cache()
        # anchor one indexed-path bbox on an ACTUAL data point so the
        # equality check has teeth (round-4 review: a box with zero
        # contained points passes vacuously even when the indexed
        # prefilter drops everything)
        p0 = feats.limit(1).collect()[0]
        tight = (p0.minx - 0.3, p0.miny - 0.3, p0.minx + 0.3, p0.miny + 0.3)
        for bbox in [(-10, -10, 10, 10), (100, 40, 101, 41),
                     (-180, -90, 180, 90), tight]:
            a = {r.id for r in spatial.bbox_query(feats, *bbox).select("id").collect()}
            b = {r.id for r in spatial.bbox_query_indexed(feats, *bbox).select("id").collect()}
            assert a == b, bbox
        a = {r.id for r in spatial.bbox_query(feats, *tight).select("id").collect()}
        assert p0.id in a  # the anchored box really contains data

    def test_sampled_cover_validated_by_exact_cover(self):
        """Random boxes: the sampled cover's 0.55-edge step never
        misses a cell that owns a bbox point."""
        import numpy as np

        from ingest_spark.functions import cells as cf
        from ingest_spark.functions import h3core as h

        rng = np.random.default_rng(21)
        for _ in range(10):
            res = int(rng.integers(3, 7))
            e = h.h3_edge_deg(res)
            cx = float(rng.uniform(-160, 160))
            cy = float(rng.uniform(-75, 75))
            w = float(rng.uniform(0.5, 5)) * e
            hh = float(rng.uniform(0.5, 5)) * e
            box = (cx - w, cy - hh, cx + w, cy + hh)
            sampled = set(cf.h3_cover_bbox(*box, res))
            plon = rng.uniform(box[0], box[2], 2000)
            plat = np.clip(rng.uniform(box[1], box[3], 2000), -90, 90)
            owning = set(h.latlng_to_cell(plon, plat, res).tolist())
            assert owning <= sampled, (box, res)


class TestStatefulStreaming:
    def test_hot_cell_monitor_emits_on_threshold(self, spark, tmp_path):
        from ingest_spark.streaming import stream as strm

        src = str(tmp_path / "in")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ck")
        # all fixture+filler nodes: the hot cluster cells cross a small
        # threshold, sparse cells don't
        pages_src.pages(spark, n_filler=2000).write.parquet(src)
        stream = strm.stream_pages(spark, src)
        feats = strm.stream_node_features(stream, spark)
        alerts = strm.hot_cell_monitor(feats.select("hex_cell", "id"), threshold=20)
        q = (
            alerts.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = spark.read.parquet(out)
        rows = got.collect()
        assert len(rows) >= 1  # the hot cluster triggers
        assert all(r["count"] >= 20 for r in rows)
        # batch ground truth: exactly the cells with >= threshold rows
        batch = strm.stream_node_features(
            spark.read.parquet(src), spark
        )
        want = {
            r.hex_cell
            for r in batch.groupBy("hex_cell").count().where(F.col("count") >= 20).collect()
        }
        assert {r.hex_cell for r in rows} == want


class TestIntervalJoin:
    def test_equals_naive_nonequi_join(self, spark):
        """Bucketed interval join must equal the naive BETWEEN join for
        any bucket size (incl. intervals spanning many buckets and
        facts on exact boundaries)."""
        import numpy as np
        from pyspark.sql import functions as F

        from ingest_spark.operators.temporal import interval_join

        rng = np.random.default_rng(17)
        base = 1_600_000_000
        facts = spark.createDataFrame(
            [(int(i), int(rng.integers(1, 4)), base + int(rng.integers(0, 90000)))
             for i in range(800)],
            "fid long, k long, t long",
        ).withColumn("ts", F.timestamp_seconds("t")).drop("t")
        ivs = spark.createDataFrame(
            [(int(i), int(rng.integers(1, 4)),
              base + int(s := rng.integers(0, 80000)), base + int(s + rng.integers(0, 30000)))
             for i in range(40)],
            "iv_id long, k long, s long, e long",
        ).withColumn("start_ts", F.timestamp_seconds("s")) \
         .withColumn("end_ts", F.timestamp_seconds("e")).drop("s", "e")

        naive = facts.join(
            ivs, (facts.k == ivs.k)
            & (facts.ts >= ivs.start_ts) & (facts.ts <= ivs.end_ts)
        ).select("fid", "iv_id")
        want = {(r.fid, r.iv_id) for r in naive.collect()}
        for bucket in (600, 3600, 50000):
            got = {
                (r.fid, r.iv_id)
                for r in interval_join(
                    facts, ivs, by="k", bucket_sec=bucket
                ).select("fid", "iv_id").collect()
            }
            assert got == want and len(got) > 0


class TestDeterministicSampling:
    def test_reproducible_and_rate(self, spark):
        from ingest_spark.operators.sampling import sample_deterministic

        df = spark.range(0, 20_000).withColumnRenamed("id", "k")
        a = {r.k for r in sample_deterministic(df, 0.3, "k").collect()}
        b = {r.k for r in sample_deterministic(df, 0.3, "k").collect()}
        assert a == b  # deterministic
        assert abs(len(a) / 20_000 - 0.3) < 0.02  # close to the rate
        # nested property: a lower rate selects a SUBSET (same hash order)
        c = {r.k for r in sample_deterministic(df, 0.1, "k").collect()}
        assert c <= a

    def test_salt_decorrelates(self, spark):
        from ingest_spark.operators.sampling import sample_deterministic

        df = spark.range(0, 10_000).withColumnRenamed("id", "k")
        a = {r.k for r in sample_deterministic(df, 0.5, "k").collect()}
        b = {r.k for r in sample_deterministic(df, 0.5, "k", salt="v2").collect()}
        overlap = len(a & b) / max(len(a), 1)
        assert 0.3 < overlap < 0.7  # ~independent draws

    def test_rate_edges(self, spark):
        from ingest_spark.operators.sampling import sample_deterministic

        df = spark.range(0, 500).withColumnRenamed("id", "k")
        assert sample_deterministic(df, 0.0, "k").count() == 0
        assert sample_deterministic(df, 1.0, "k").count() == 500

    def test_stratified_rates(self, spark):
        from pyspark.sql import functions as F

        from ingest_spark.operators.sampling import sample_stratified

        df = spark.range(0, 30_000).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 3 == 0, "a").when(F.col("id") % 3 == 1, "b")
            .otherwise("c").alias("g"),
        )
        out = sample_stratified(
            df, {"a": 1.0, "b": 0.2}, stratum_col="g", key_col="k", default_rate=0.0
        )
        counts = {r.g: r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
        assert counts.get("a") == 10_000  # rate 1.0 keeps every row
        assert abs(counts.get("b", 0) / 10_000 - 0.2) < 0.03
        assert "c" not in counts  # default 0.0


class TestSamplePerGroup:
    def test_cap_and_determinism(self, spark):
        from pyspark.sql import functions as F

        from ingest_spark.operators.sampling import sample_per_group

        df = spark.range(0, 5000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("g")
        )
        a = sample_per_group(df, 10, "g", "k")
        counts = {r.g: r.n for r in a.groupBy("g").agg(F.count("*").alias("n")).collect()}
        assert all(v == 10 for v in counts.values()) and len(counts) == 7
        b = sample_per_group(df, 10, "g", "k")
        assert {(r.g, r.k) for r in a.collect()} == {(r.g, r.k) for r in b.collect()}
        # groups smaller than the cap survive whole
        tiny = df.where(F.col("k") < 3)
        assert sample_per_group(tiny, 10, "g", "k").count() == 3
