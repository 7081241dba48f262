"""s3 module round-trips — modeled on the reference's test strategy
(/root/reference/tests/test_s3_parquet.py, test_s3_text.py, test_fs.py):
write dataset → read back → frame equality, across modes/partitioning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_data_wrangler_spark import s3


def _sum_qty(df):
    return df.agg(F.round(F.sum("l_quantity"), 2).alias("s")).collect()[0]["s"]


class TestParquetDataset:
    def test_roundtrip_partitioned(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/ds"
        res = s3.to_parquet(
            lineitem, out, dataset=True, partition_cols=["l_returnflag"], mode="overwrite"
        )
        assert len(res["paths"]) >= 3
        assert set(len(v) for v in res["partitions_values"].values()) == {1}
        back = s3.read_parquet(out, dataset=True)
        assert back.count() == lineitem.count()
        assert _sum_qty(back) == _sum_qty(lineitem)

    def test_append_mode(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/ds"
        sample = lineitem.limit(100)
        s3.to_parquet(sample, out, dataset=True, mode="overwrite")
        s3.to_parquet(sample, out, dataset=True, mode="append")
        assert s3.read_parquet(out, dataset=True).count() == 200

    def test_overwrite_partitions_replaces_only_touched(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/ds"
        s3.to_parquet(lineitem, out, dataset=True, partition_cols=["l_returnflag"], mode="overwrite")
        patch = lineitem.filter(F.col("l_returnflag") == "R").limit(10)
        s3.to_parquet(patch, out, dataset=True, partition_cols=["l_returnflag"], mode="overwrite_partitions")
        back = s3.read_parquet(out, dataset=True)
        n_r = back.filter(F.col("l_returnflag") == "R").count()
        n_other = back.filter(F.col("l_returnflag") != "R").count()
        assert n_r == 10
        assert n_other == lineitem.filter(F.col("l_returnflag") != "R").count()

    def test_write_leaves_session_overwrite_mode_alone(self, spark, lineitem, tmp_prefix):
        # the dataset modes pick static/dynamic per write; a caller's
        # session setting (here Spark's own default, static) survives
        # every mode, and overwrite_partitions still replaces only the
        # partitions it touches
        key = "spark.sql.sources.partitionOverwriteMode"
        out = f"{tmp_prefix}/ds"
        sample = lineitem.limit(200)
        patch = sample.filter(F.col("l_returnflag") == "R").limit(3)
        prior = spark.conf.get(key)
        spark.conf.set(key, "static")
        try:
            for mode, df in (("overwrite", sample), ("append", sample), ("overwrite_partitions", patch)):
                s3.to_parquet(df, out, dataset=True, partition_cols=["l_returnflag"], mode=mode)
                assert spark.conf.get(key) == "static", mode
        finally:
            spark.conf.set(key, prior)
        back = s3.read_parquet(out, dataset=True)
        assert back.filter(F.col("l_returnflag") == "R").count() == 3
        n_other = sample.filter(F.col("l_returnflag") != "R").count()
        assert back.filter(F.col("l_returnflag") != "R").count() == 2 * n_other

    def test_write_payload(self, spark, tmp_prefix):
        # paths = every data object under the prefix after the write;
        # partitions_values = every partition present, values as the
        # on-disk directory names (Spark escapes ':' to '%3A')
        df = spark.createDataFrame(
            [(1, "a:b", "x"), (2, "a:b", "y"), (3, "c", "x")], "v int, p string, q string"
        )
        out = f"{tmp_prefix}/payload"
        res = s3.to_parquet(df, out, dataset=True, partition_cols=["p", "q"], mode="overwrite")
        assert res["partitions_values"] == {
            f"file://{out}/p=a%3Ab/q=x/": ["a%3Ab", "x"],
            f"file://{out}/p=a%3Ab/q=y/": ["a%3Ab", "y"],
            f"file://{out}/p=c/q=x/": ["c", "x"],
        }
        assert res["paths"] == s3.list_objects(out)
        assert {f"file://{p[len('file:'):].rsplit('/', 1)[0]}/" for p in res["paths"]} == set(
            res["partitions_values"]
        )

        res = s3.to_parquet(
            df.filter("p = 'c'"), out, dataset=True, partition_cols=["p", "q"], mode="append"
        )
        assert len(res["partitions_values"]) == 3  # every partition present, not only the touched one
        assert res["paths"] == s3.list_objects(out)

        flat = f"{tmp_prefix}/flat"
        res = s3.to_parquet(df, flat, dataset=True, mode="overwrite")
        assert res["partitions_values"] == {}
        assert res["paths"] == s3.list_objects(flat)
        assert len(res["paths"]) >= 1

    def test_invalid_mode_raises(self, spark, lineitem, tmp_prefix):
        from aws_data_wrangler_spark.exceptions import InvalidArgumentValue

        with pytest.raises(InvalidArgumentValue):
            s3.to_parquet(lineitem, f"{tmp_prefix}/x", dataset=True, mode="bogus")

    def test_single_file_write(self, spark, lineitem, tmp_prefix):
        path = f"{tmp_prefix}/one.parquet"
        s3.to_parquet(lineitem.limit(5), path)
        assert s3.does_object_exist(path)
        assert s3.read_parquet(path).count() == 5

    def test_filters_pushdown_and_projection(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/ds"
        s3.to_parquet(lineitem, out, dataset=True, partition_cols=["l_returnflag"], mode="overwrite")
        df = s3.read_parquet(out, dataset=True, columns=["l_orderkey", "l_returnflag"], filters="l_returnflag = 'R'")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert df.columns == ["l_orderkey", "l_returnflag"]

    def test_read_parquet_metadata(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/ds"
        s3.to_parquet(lineitem, out, dataset=True, partition_cols=["l_returnflag"], mode="overwrite")
        cols, parts = s3.read_parquet_metadata(out, dataset=True)
        assert cols["l_orderkey"] == "bigint"
        assert parts == {"l_returnflag": "string"}

    def test_sort_cols_clusters_row_groups(self, spark, lineitem, tmp_prefix):
        import pyarrow.parquet as pq

        out = f"{tmp_prefix}/sorted"
        s3.to_parquet(
            lineitem.repartition(1), out, dataset=True, mode="overwrite",
            sort_cols=["l_orderkey"],
        )
        obj = s3.list_objects(out)[0].replace("file:", "")
        table = pq.read_table(obj, columns=["l_orderkey"])
        values = table["l_orderkey"].to_pylist()
        assert values == sorted(values)  # min/max stats now prune on this col

    def test_zorder_key_interleaves_bits(self, spark):
        # bits=2, two cols with values 0..3 → bucket == value (uniform
        # range mapping is exact here); z = col0 bits at even positions,
        # col1 bits at odd positions
        df = spark.createDataFrame(
            [(a, b) for a in range(4) for b in range(4)], "a int, b int"
        )
        laid = s3.zorder_layout(df, ["a", "b"], bits=2, num_partitions=1)
        rows = laid.collect()

        def morton(a: int, b: int) -> int:
            z = 0
            for bit in range(2):
                z |= ((a >> bit) & 1) << (2 * bit)
                z |= ((b >> bit) & 1) << (2 * bit + 1)
            return z

        got = [(r["a"], r["b"]) for r in rows]
        want = sorted(got, key=lambda ab: morton(*ab))
        assert got == want

    def test_zorder_layout_clusters_both_columns(self, spark, lineitem, tmp_prefix):
        import pyarrow.parquet as pq

        cols = ["l_orderkey", "l_partkey"]
        out = f"{tmp_prefix}/zorder"
        s3.to_parquet(
            s3.zorder_layout(lineitem, cols, bits=8, num_partitions=8),
            out, dataset=True, mode="overwrite",
        )

        def mean_span_fraction(prefix: str, col: str) -> float:
            files = [p.replace("file:", "") for p in s3.list_objects(prefix)]
            gmin, gmax = None, None
            spans = []
            for f in files:
                meta = pq.ParquetFile(f).metadata
                fmin = min(
                    meta.row_group(i).column(
                        [meta.row_group(i).column(j).path_in_schema for j in range(meta.num_columns)].index(col)
                    ).statistics.min
                    for i in range(meta.num_row_groups)
                )
                fmax = max(
                    meta.row_group(i).column(
                        [meta.row_group(i).column(j).path_in_schema for j in range(meta.num_columns)].index(col)
                    ).statistics.max
                    for i in range(meta.num_row_groups)
                )
                spans.append((fmin, fmax))
                gmin = fmin if gmin is None else min(gmin, fmin)
                gmax = fmax if gmax is None else max(gmax, fmax)
            width = (gmax - gmin) or 1
            return sum((b - a) for a, b in spans) / len(spans) / width

        # a contiguous z-range covers ~sqrt(fraction) of each dimension:
        # with 8 files both columns' per-file spans shrink well below
        # the global span — the multi-column pruning sort_cols can't give
        for col in cols:
            assert mean_span_fraction(out, col) < 0.8, col

    def test_zorder_handles_temporal_columns(self, spark, lineitem):
        # date and NTZ-timestamp columns can't cast straight to double
        # under ANSI; the layout must route them through epoch forms
        df = lineitem.limit(200).withColumn(
            "ship_date", F.col("l_shipdate").cast("timestamp").cast("date")
        )
        out = s3.zorder_layout(df, ["ship_date", "l_shipdate", "l_orderkey"], bits=4)
        assert out.count() == 200
        assert "__z" not in out.columns

    def test_zorder_rejects_bad_args(self, spark, lineitem):
        import pytest as _pytest

        from aws_data_wrangler_spark.exceptions import InvalidArgumentValue

        with _pytest.raises(InvalidArgumentValue):
            s3.zorder_layout(lineitem, [])
        with _pytest.raises(InvalidArgumentValue):
            s3.zorder_layout(lineitem, ["l_orderkey", "l_partkey"], bits=32)

    def test_dtype_cast(self, spark, lineitem, tmp_prefix):
        path = f"{tmp_prefix}/cast"
        s3.to_parquet(
            lineitem.limit(10), path, dataset=True, mode="overwrite",
            dtype={"l_quantity": "decimal(10,2)"},
        )
        back = s3.read_parquet(path, dataset=True)
        assert dict(back.dtypes)["l_quantity"] == "decimal(10,2)"


class TestReferenceKwargs:
    """awswrangler-parity kwargs: partition_filter / suffix filters /
    validate_schema / catalog metadata / sanitize_columns."""

    def test_partition_filter_prunes(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/pf"
        s3.to_parquet(lineitem, out, dataset=True, partition_cols=["l_returnflag"], mode="overwrite")
        kept = s3.read_parquet(
            out, dataset=True, partition_filter=lambda v: v["l_returnflag"] == "R"
        )
        assert kept.select("l_returnflag").distinct().collect()[0][0] == "R"
        expected = lineitem.filter("l_returnflag = 'R'").count()
        assert kept.count() == expected
        with pytest.raises(Exception):
            s3.read_parquet(out, dataset=True, partition_filter=lambda v: False)

    def test_partition_filter_on_table(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/pft"
        s3.to_parquet(
            lineitem, out, dataset=True, partition_cols=["l_returnflag"],
            mode="overwrite", database="sg_test", table="li_pf",
        )
        kept = s3.read_parquet_table(
            "li_pf", database="sg_test", partition_filter=lambda v: v["l_returnflag"] != "R"
        )
        assert kept.filter("l_returnflag = 'R'").count() == 0
        assert kept.count() == lineitem.filter("l_returnflag != 'R'").count()
        spark.catalog.setCurrentDatabase("default")

    def test_path_suffix_filters(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/sfx"
        s3.to_parquet(lineitem.limit(10), out, dataset=True, mode="overwrite")
        # every data file ends .parquet; ignore-suffix that matches all → error
        assert s3.read_parquet(out, dataset=True, path_suffix=".parquet").count() == 10
        with pytest.raises(Exception):
            s3.read_parquet(out, dataset=True, path_ignore_suffix=".parquet")

    def test_validate_schema(self, spark, lineitem, tmp_prefix):
        from aws_data_wrangler_spark.exceptions import InvalidSchemaConvergence

        out = f"{tmp_prefix}/vs"
        s3.to_parquet(lineitem.select("l_orderkey", "l_quantity").limit(5), f"{out}/a.parquet")
        s3.to_parquet(lineitem.select("l_orderkey", "l_extendedprice").limit(5), f"{out}/b.parquet")
        with pytest.raises(InvalidSchemaConvergence):
            s3.read_parquet(out, dataset=True, validate_schema=True)
        # homogeneous dataset passes
        ok = f"{tmp_prefix}/vs_ok"
        s3.to_parquet(lineitem.limit(5), ok, dataset=True, mode="overwrite")
        assert s3.read_parquet(ok, dataset=True, validate_schema=True).count() == 5

    def test_validate_schema_does_not_leak_mergeschema(self, spark, lineitem, tmp_prefix):
        # the probe's mergeSchema=true must NOT leak into the final
        # read: schema with validate on == schema with validate off
        out = f"{tmp_prefix}/vsleak"
        s3.to_parquet(lineitem.limit(5), out, dataset=True, mode="overwrite")
        plain = s3.read_parquet(out, dataset=True, validate_schema=False).schema
        validated = s3.read_parquet(out, dataset=True, validate_schema=True).schema
        assert plain == validated

    def test_validate_schema_incompatible_types(self, spark, tmp_prefix):
        from aws_data_wrangler_spark.exceptions import InvalidSchemaConvergence

        out = f"{tmp_prefix}/vstypes"
        s3.to_parquet(spark.sql("SELECT CAST(1 AS INT) AS x"), f"{out}/a.parquet")
        s3.to_parquet(spark.sql("SELECT 'str' AS x"), f"{out}/b.parquet")
        # same field NAME, unmergeable types → typed engine error, not
        # a raw Spark merge exception
        with pytest.raises(InvalidSchemaConvergence):
            s3.read_parquet(out, dataset=True, validate_schema=True)

    def test_partition_filter_sees_unescaped_values(self, spark, tmp_prefix):
        # a partition value with a space is %20-escaped on disk; the
        # callable must receive the real value and pruning must work
        df = spark.createDataFrame(
            [(1, "north america"), (2, "europe"), (3, None)], "id int, zone string"
        )
        out = f"{tmp_prefix}/esc"
        s3.to_parquet(df, out, dataset=True, mode="overwrite", partition_cols=["zone"])
        seen = []
        got = s3.read_parquet(
            out, dataset=True,
            partition_filter=lambda v: seen.append(dict(v)) or v["zone"] == "north america",
        )
        assert got.count() == 1
        assert {"zone": "north america"} in seen
        assert {"zone": None} in seen  # __HIVE_DEFAULT_PARTITION__ → null
        # null partition selectable via the callable
        nulls = s3.read_parquet(out, dataset=True, partition_filter=lambda v: v["zone"] is None)
        assert nulls.count() == 1

    def test_mtime_option_keeps_utc_offset(self):
        import datetime as dt

        from aws_data_wrangler_spark.s3._read import _mtime_option

        aware = dt.datetime(2020, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc)
        assert _mtime_option(aware) == "2020-01-02T03:04:05+0000"
        naive = dt.datetime(2020, 1, 2, 3, 4, 5)
        assert _mtime_option(naive) == "2020-01-02T03:04:05"

    def test_catalog_metadata_passthrough(self, spark, lineitem, tmp_prefix):
        from aws_data_wrangler_spark import catalog

        out = f"{tmp_prefix}/meta"
        s3.to_parquet(
            lineitem.limit(5), out, dataset=True, mode="overwrite",
            database="sg_test", table="li_meta",
            description="lineitem sample", parameters={"team": "etl"},
            columns_comments={"l_orderkey": "order fk"},
        )
        assert catalog.get_table_description("sg_test", "li_meta") == "lineitem sample"
        assert catalog.get_table_parameters("sg_test", "li_meta").get("team") == "etl"
        assert catalog.get_columns_comments("sg_test", "li_meta").get("l_orderkey") == "order fk"
        spark.catalog.setCurrentDatabase("default")

    def test_sanitize_and_ignored_kwargs(self, spark, tmp_prefix):
        df = spark.createDataFrame([(1, 2)], ["Weird Col", "ok"])
        out = f"{tmp_prefix}/san"
        s3.to_parquet(
            df, out, dataset=True, mode="overwrite", sanitize_columns=True,
            index=False, use_threads=True, catalog_id="x", projection_enabled=False,
        )
        back = s3.read_parquet(out, dataset=True)
        assert "weird_col" in back.columns

    def test_csv_chunksize_and_columns(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/csvc"
        s3.to_csv(
            lineitem.limit(20), out, dataset=True, mode="overwrite",
            columns=["l_orderkey", "l_quantity"],
        )
        schema = "l_orderkey bigint, l_quantity double"
        chunks = list(s3.read_csv(out, dataset=True, schema=schema, chunksize=7))
        assert sum(len(c) for c in chunks) == 20
        assert all(list(c.columns) == ["l_orderkey", "l_quantity"] for c in chunks)

    def test_read_sql_query_max_cache_seconds_kwarg(self, spark):
        from aws_data_wrangler_spark import athena

        a = athena.read_sql_query("SELECT 41 + 1 AS v", max_cache_seconds=60)
        b = athena.read_sql_query("SELECT 41 + 1 AS v", max_cache_seconds=60)
        # identical SQL within TTL returns the cached result frame
        assert b.collect()[0]["v"] == 42 and b is a
        c = athena.read_sql_query("SELECT 41 + 1 AS v", max_cache_seconds=0)
        assert c is not a  # kwarg override disables the cache


class TestTextFormats:
    def test_csv_roundtrip(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/csv"
        sample = lineitem.select("l_orderkey", "l_quantity", "l_returnflag").limit(50)
        s3.to_csv(sample, out, dataset=True, mode="overwrite")
        back = s3.read_csv(out, dataset=True)
        assert back.count() == 50
        assert set(back.columns) == {"l_orderkey", "l_quantity", "l_returnflag"}

    def test_json_roundtrip(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/json"
        s3.to_json(lineitem.limit(20), out, dataset=True, mode="overwrite")
        assert s3.read_json(out, dataset=True).count() == 20

    def test_fwf(self, spark, tmp_prefix):
        path = f"{tmp_prefix}/data.txt"
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("001alpha  10\n002beta   20\n")
        df = s3.read_fwf(path, widths=[3, 7, 3], names=["id", "name", "val"], dtype={"id": "int", "val": "int"})
        rows = {r["id"]: (r["name"], r["val"]) for r in df.collect()}
        assert rows == {1: ("alpha", 10), 2: ("beta", 20)}

    def test_orc_roundtrip_partitioned(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/orc"
        sample = lineitem.select("l_orderkey", "l_quantity", "l_returnflag").limit(100)
        s3.to_orc(sample, out, dataset=True, partition_cols=["l_returnflag"], mode="overwrite")
        back = s3.read_orc(out, dataset=True)
        assert back.count() == 100
        assert set(back.columns) == {"l_orderkey", "l_quantity", "l_returnflag"}
        # partition_filter prunes directories before the scan
        flags = {r["l_returnflag"] for r in sample.select("l_returnflag").distinct().collect()}
        one = sorted(flags)[0]
        pruned = s3.read_orc(
            out, dataset=True, partition_filter=lambda p: p.get("l_returnflag") == one
        )
        assert {r["l_returnflag"] for r in pruned.collect()} == {one}

    def test_orc_catalog_registration_with_ntz(self, spark, lineitem, tmp_prefix):
        from aws_data_wrangler_spark import athena, catalog

        # an NTZ column must survive registration + SQL read-back:
        # Athena DDL has no NTZ type, so to_orc casts it to TIMESTAMP
        # at write time (the ORC reader refuses the mismatch parquet
        # coerces)
        df = lineitem.limit(30).withColumn(
            "ntz_col", F.col("l_shipdate").cast("timestamp_ntz")
        )
        out = f"{tmp_prefix}/orc_cat"
        catalog.create_database("orc_cat_db", spark=spark)
        s3.to_orc(
            df, out, dataset=True, partition_cols=["l_returnflag"], mode="overwrite",
            database="orc_cat_db", table="li_orc",
        )
        back = athena.read_sql_table("li_orc", "orc_cat_db", spark=spark)
        assert back.count() == 30
        assert dict(back.dtypes)["ntz_col"] == "timestamp"
        catalog.delete_table_if_exists("orc_cat_db", "li_orc", spark=spark)

    def test_orc_filters_reach_the_scan(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/orc_pd"
        s3.to_orc(lineitem.limit(200), out, mode="overwrite")
        df = s3.read_orc(out, columns=["l_orderkey", "l_quantity"], filters=[("l_quantity", "<", 10)])
        plan = df._jdf.queryExecution().executedPlan().toString()
        # ORC scan must show the pushed predicate and the pruned schema
        assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters:")[1][:200]
        assert df.count() == lineitem.limit(200).filter("l_quantity < 10").count()


class TestObjectOps:
    def test_list_delete_exist(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/objs"
        s3.to_parquet(lineitem.limit(10), out, dataset=True, mode="overwrite")
        objs = s3.list_objects(out)
        assert objs and all(o.endswith(".parquet") for o in objs)
        assert s3.does_object_exist(objs[0])
        sizes = s3.size_objects(out)
        assert all(v > 0 for v in sizes.values())
        s3.delete_objects(out)
        assert s3.list_objects(out) == []

    def test_distributed_listing_matches_driver_walk(self, spark, lineitem, tmp_prefix):
        # a prefix with >32 children auto-routes to the Spark file
        # index; both routes must return the identical object list
        base = f"{tmp_prefix}/many"
        for i in range(40):
            s3.to_parquet(lineitem.limit(1), f"{base}/d{i:02d}/part.parquet")
        driver_walk = s3.list_objects(base, distributed=False)
        dist = s3.list_objects(base, distributed=True)
        auto = s3.list_objects(base)  # 40 children → auto-distributed
        assert len(driver_walk) == 40
        assert dist == driver_walk
        assert auto == driver_walk

    def test_listing_routes_agree_on_hidden_dirs(self, spark, lineitem, tmp_prefix):
        # files under '_'/'.'-prefixed DIRECTORIES are metadata, not data:
        # Spark's file index prunes those subtrees recursively, so the
        # driver walk must too — the result set cannot depend on which
        # route the child-count heuristic picks (partition-style '_x=1'
        # dirs survive, matching Spark's '=' exception). Awkward names
        # come back unescaped, in Path.toString() form, on both routes.
        import os

        base = f"{tmp_prefix}/hid"
        for i in range(34):
            s3.to_parquet(lineitem.limit(1), f"{base}/d{i:02d}/part.parquet")
        s3.to_parquet(lineitem.limit(1), f"{base}/_staging/part.parquet")
        s3.to_parquet(lineitem.limit(1), f"{base}/.trash/part.parquet")
        s3.to_parquet(lineitem.limit(1), f"{base}/_yr=2024/part.parquet")
        awkward = "k=a b,c;d%e é/k2=v2/part-0.parquet"
        for rel in (
            "_SUCCESS",
            awkward,
            "k=plain/k2=ü/part-1.parquet",
            "k=plain/k2=ü/readme.txt",
            "k=plain/_SUCCESS",
            "_temporary/0/task/part-2.parquet",
            ".spark-staging-x/k=plain/part-3.parquet",
        ):
            os.makedirs(os.path.dirname(os.path.join(base, rel)), exist_ok=True)
            with open(os.path.join(base, rel), "w") as f:
                f.write("x")
        # a 0-byte object under a partition value with a space: both
        # routes list it (a binaryFile SCAN would skip empty files)
        os.makedirs(os.path.join(base, "a=x y"))
        open(os.path.join(base, "a=x y", "empty.bin"), "w").close()
        os.makedirs(os.path.join(base, "empty_dir"))
        expected = {f"{base}/d{i:02d}/part.parquet" for i in range(34)} | {
            f"{base}/_yr=2024/part.parquet",
            f"{base}/a=x y/empty.bin",
            f"{base}/{awkward}",
            f"{base}/k=plain/k2=ü/part-1.parquet",
            f"{base}/k=plain/k2=ü/readme.txt",
        }
        expected = {f"file:{p}" for p in expected}

        driver_walk = s3.list_objects(base, distributed=False)
        assert driver_walk == sorted(expected)
        assert s3.list_objects(base, distributed=True) == driver_walk
        assert s3.list_objects(base) == driver_walk  # >32 children: auto-distributed

        parquet = sorted(p for p in expected if p.endswith(".parquet"))
        for distributed in (False, True):
            assert s3.list_objects(base, suffix=".parquet", distributed=distributed) == parquet
            # a single-file path lists as itself
            assert s3.list_objects(f"{base}/{awkward}", distributed=distributed) == [
                f"file:{base}/{awkward}"
            ]
        assert s3.list_objects(f"{base}/empty_dir", distributed=False) == []
        assert s3.list_objects(f"{base}/k=plain", distributed=False) == [
            f"file:{base}/k=plain/k2=ü/part-1.parquet",
            f"file:{base}/k=plain/k2=ü/readme.txt",
        ]

    def test_driver_listing_round_trips_do_not_grow_with_files(self, spark, tmp_prefix, monkeypatch):
        # the driver route crosses Py4J a fixed number of times, however
        # many objects it lists
        import os

        client = spark.sparkContext._gateway._gateway_client

        def round_trips(n_files):
            base = f"{tmp_prefix}/rt{n_files}"
            for i in range(n_files):
                os.makedirs(f"{base}/day={i % 4}", exist_ok=True)
                with open(f"{base}/day={i % 4}/part-{i:04d}.parquet", "w") as f:
                    f.write("x")
            assert len(s3.list_objects(base, distributed=False)) == n_files  # warm caches
            calls = []
            send = client.send_command

            def counting(*args, **kwargs):
                calls.append(1)
                return send(*args, **kwargs)

            with monkeypatch.context() as m:
                m.setattr(client, "send_command", counting)
                listed = s3.list_objects(base, distributed=False)
            assert len(listed) == n_files
            return len(calls)

        small, large = round_trips(20), round_trips(200)
        assert small == large
        assert small < 40

    def test_dataset_write_lists_once(self, spark, lineitem, tmp_prefix, monkeypatch):
        from aws_data_wrangler_spark.s3 import _write

        calls = []
        real = _write.list_objects

        def counting(*args, **kwargs):
            calls.append(args)
            return real(*args, **kwargs)

        monkeypatch.setattr(_write, "list_objects", counting)
        s3.to_parquet(
            lineitem.limit(20), f"{tmp_prefix}/once", dataset=True,
            partition_cols=["l_returnflag"], mode="overwrite",
        )
        assert len(calls) == 1

    def test_copy_and_merge(self, spark, lineitem, tmp_prefix):
        src, dst = f"{tmp_prefix}/src", f"{tmp_prefix}/dst"
        s3.to_parquet(lineitem.limit(10), src, dataset=True, partition_cols=["l_returnflag"], mode="overwrite")
        copied = s3.merge_datasets(src, dst, mode="append")
        assert len(copied) == len(s3.list_objects(src))
        assert s3.read_parquet(dst, dataset=True).count() == 10

    def test_wait_objects(self, spark, lineitem, tmp_prefix):
        out = f"{tmp_prefix}/w"
        s3.to_parquet(lineitem.limit(1), out, dataset=True, mode="overwrite")
        objs = s3.list_objects(out)
        s3.wait_objects_exist(objs)
        with pytest.raises(TimeoutError):
            s3.wait_objects_not_exist(objs, delay=0.01, max_attempts=2)


class TestOpenObject:
    def test_open_write_read_binary(self, spark, tmp_prefix):
        from aws_data_wrangler_spark import s3

        path = f"{tmp_prefix}/blob.bin"
        payload = b"\x00\x01binary payload\xff" * 100
        with s3.open_s3_object(path, "wb", spark=spark) as f:
            f.write(payload)
        assert s3.does_object_exist(path, spark=spark)
        with s3.open_s3_object(path, "rb", spark=spark) as f:
            assert f.read() == payload

    def test_open_text_lines(self, spark, tmp_prefix):
        from aws_data_wrangler_spark import s3

        path = f"{tmp_prefix}/notes.txt"
        with s3.open_s3_object(path, "w", spark=spark) as f:
            f.write("line one\nline two\n")
        with s3.open_s3_object(path, "r", spark=spark) as f:
            assert f.readlines() == ["line one\n", "line two\n"]


class TestCatalogVersions:
    def test_table_versions_shape(self, spark, tmp_prefix, lineitem):
        from aws_data_wrangler_spark import catalog, s3

        catalog.create_database("sg_ver")
        s3.to_parquet(lineitem.limit(10), f"{tmp_prefix}/t", dataset=True, mode="overwrite", spark=spark)
        catalog.create_parquet_table(
            database="sg_ver", table="vt", path=f"{tmp_prefix}/t",
            columns_types={"l_orderkey": "bigint"},
        )
        assert catalog.get_table_number_of_versions("sg_ver", "vt") == 1
        versions = catalog.get_table_versions("sg_ver", "vt")
        assert versions[0]["Table"]["Name"] == "vt"
        assert catalog.get_table_number_of_versions("sg_ver", "missing") == 0
        catalog.delete_table_if_exists("sg_ver", "vt")


class TestChunkedRead:
    def test_chunked_iterator_covers_all_rows(self, spark):
        from aws_data_wrangler_spark import s3

        frames = list(s3.read_parquet(
            "/root/testdata/sf0.001/orders.parquet", chunked=500, spark=spark
        ))
        assert all(len(f) <= 500 for f in frames)
        total = sum(len(f) for f in frames)
        direct = s3.read_parquet("/root/testdata/sf0.001/orders.parquet", spark=spark)
        assert total == direct.count()
        assert list(frames[0].columns) == direct.columns

    def test_chunked_true_yields_frames(self, spark):
        from aws_data_wrangler_spark import s3

        frames = list(s3.read_parquet(
            "/root/testdata/sf0.001/nation.parquet", chunked=True, spark=spark
        ))
        assert sum(len(f) for f in frames) == 25


class TestMaxRowsByFile:
    def test_file_split_at_row_cap(self, spark, tmp_prefix):
        from aws_data_wrangler_spark import s3

        df = spark.range(1000).coalesce(1).withColumnRenamed("id", "v")
        out = f"{tmp_prefix}/capped"
        s3.to_parquet(df, out, dataset=True, mode="overwrite",
                      max_rows_by_file=300, spark=spark)
        files = [p for p in s3.list_objects(f"{out}/", spark=spark) if p.endswith(".parquet")]
        # 1000 rows / cap 300 -> 4 files from the single task
        assert len(files) == 4
        back = s3.read_parquet(out, dataset=True, spark=spark)
        assert back.count() == 1000


class TestBloomFilterWrite:
    def test_bloom_filters_land_on_requested_columns_only(self, spark, tmp_prefix):
        # bloom_filter_cols must actually reach the parquet footer —
        # the point-lookup pruning complement to sort_cols/Z-order; the
        # audit helper reads the flag back without scanning data
        from aws_data_wrangler_spark import s3

        df = spark.range(2000).selectExpr(
            "id AS doc_id", "concat('t', id) AS text", "id % 7 AS grp"
        ).coalesce(1)
        out = f"{tmp_prefix}/bloomed"
        s3.to_parquet(
            df, out, dataset=True, mode="overwrite",
            bloom_filter_cols=["doc_id", "text"], bloom_filter_ndv=2000,
            spark=spark,
        )
        data_file = next(
            p for p in s3.list_objects(f"{out}/", spark=spark) if p.endswith(".parquet")
        )
        flags = s3.read_parquet_bloom_filters(data_file, spark=spark)
        assert flags["doc_id"] is True and flags["text"] is True
        assert flags["grp"] is False
        # a plain write carries no bloom filters at all
        plain = f"{tmp_prefix}/plain"
        s3.to_parquet(df, plain, dataset=True, mode="overwrite", spark=spark)
        pf = next(
            p for p in s3.list_objects(f"{plain}/", spark=spark) if p.endswith(".parquet")
        )
        assert not any(s3.read_parquet_bloom_filters(pf, spark=spark).values())
        # unknown columns rejected loudly, not silently ignored
        import pytest as _pytest

        with _pytest.raises(ValueError, match="bloom_filter_cols"):
            s3.to_parquet(df, out, bloom_filter_cols=["nope"], spark=spark)
        # partition columns never reach data files — a "bloom filter"
        # on one would silently not exist, so it's rejected
        with _pytest.raises(ValueError, match="partition columns"):
            s3.to_parquet(
                df, out, dataset=True, partition_cols=["grp"],
                bloom_filter_cols=["grp"], spark=spark,
            )

    def test_bloom_filters_follow_sanitized_names(self, spark, tmp_prefix):
        # bloom options must name the ON-DISK column: with
        # sanitize_columns=True the requested name is sanitized the
        # same way the frame is, so the filter still lands
        from aws_data_wrangler_spark import s3

        df = spark.range(500).selectExpr(
            "id AS `Doc Id`", "concat('t', id) AS text"
        ).coalesce(1)
        out = f"{tmp_prefix}/bloom_sanitized"
        s3.to_parquet(
            df, out, dataset=True, mode="overwrite", sanitize_columns=True,
            bloom_filter_cols=["Doc Id"], bloom_filter_ndv=500, spark=spark,
        )
        data_file = next(
            p for p in s3.list_objects(f"{out}/", spark=spark) if p.endswith(".parquet")
        )
        flags = s3.read_parquet_bloom_filters(data_file, spark=spark)
        assert flags == {"doc_id": True, "text": False}

    def test_sanitized_partition_col_still_hits_bloom_guard(self, spark, tmp_prefix):
        # with sanitize_columns=True a partition column whose name
        # changes under sanitization must STILL be caught by the
        # partition-column rejection (the guard compares on-disk names
        # on both sides), and a sanitize-renamed partition column must
        # still resolve at partitionBy
        import pytest as _pytest

        from aws_data_wrangler_spark import s3

        df = spark.range(100).selectExpr(
            "id AS `Doc Id`", "id % 3 AS `Grp Col`"
        ).coalesce(1)
        out = f"{tmp_prefix}/bloom_part_sanitized"
        with _pytest.raises(ValueError, match="partition columns"):
            s3.to_parquet(
                df, out, dataset=True, partition_cols=["Grp Col"],
                bloom_filter_cols=["Grp Col"], sanitize_columns=True,
                spark=spark,
            )
        s3.to_parquet(
            df, out, dataset=True, mode="overwrite",
            partition_cols=["Grp Col"], sanitize_columns=True, spark=spark,
        )
        back = s3.read_parquet(f"{out}/", dataset=True, spark=spark)
        assert set(back.columns) == {"doc_id", "grp_col"}
        assert back.count() == 100

    def test_dtype_keys_follow_sanitized_names(self, spark, tmp_prefix):
        # ADVICE r8: dtype keys must track the sanitize rename like the
        # partition/sort/bloom lists do (the reference sanitizes the
        # dtype dict alongside the frame) — a dtype keyed by the
        # original name must still cast the renamed column instead of
        # failing on an unresolved pre-sanitize name
        from aws_data_wrangler_spark import s3

        df = spark.range(20).selectExpr(
            "id AS `Doc Id`", "cast(id AS double) AS `Val Col`"
        ).coalesce(1)
        out = f"{tmp_prefix}/dtype_sanitized"
        s3.to_parquet(
            df, out, dataset=True, mode="overwrite", sanitize_columns=True,
            dtype={"Val Col": "bigint"}, spark=spark,
        )
        back = s3.read_parquet(f"{out}/", dataset=True, spark=spark)
        assert dict(back.dtypes) == {"doc_id": "bigint", "val_col": "bigint"}


class TestMergeUpsertTable:
    def test_batch_upsert_merges_and_versions(self, spark, tmp_prefix):
        # the lakehouse UPSERT as a batch API: per-key argmax merge into
        # a fresh immutable snapshot; a second merge updates/extends; a
        # stale row never overwrites a newer one
        from aws_data_wrangler_spark import s3

        path = f"{tmp_prefix}/upsert_tbl"
        first = spark.createDataFrame(
            [(1, 10, "a"), (2, 10, "b")], "k long, ts long, v string"
        )
        snap1 = s3.merge_upsert_table(first, path, keys=["k"], order_col="ts")
        assert sorted(map(tuple, snap1.collect())) == [(1, 10, "a"), (2, 10, "b")]
        second = spark.createDataFrame(
            [(2, 20, "b2"), (2, 5, "stale"), (3, 10, "c")],
            "k long, ts long, v string",
        )
        snap2 = s3.merge_upsert_table(second, path, keys=["k"], order_col="ts")
        assert sorted(map(tuple, snap2.collect())) == [
            (1, 10, "a"), (2, 20, "b2"), (3, 10, "c"),
        ]
        # snapshot isolation: v=0 still readable (time travel)
        from aws_data_wrangler_spark import streaming

        v0 = streaming.read_upsert_table(path, spark, version=0)
        assert sorted(map(tuple, v0.collect())) == [(1, 10, "a"), (2, 10, "b")]
        # exactly-once commits with a stable commit_id: the retried
        # call is SKIPPED (no new snapshot); a blind retry without one
        # is value-idempotent (redundant snapshot, identical content)
        from aws_data_wrangler_spark.streaming import _latest_snapshot_version

        third = spark.createDataFrame([(4, 10, "d")], "k long, ts long, v string")
        s3.merge_upsert_table(third, path, keys=["k"], commit_id=777)
        v_after = _latest_snapshot_version(path, spark)
        s3.merge_upsert_table(third, path, keys=["k"], commit_id=777)
        assert _latest_snapshot_version(path, spark) == v_after  # skipped
        blind = s3.merge_upsert_table(third, path, keys=["k"])
        assert _latest_snapshot_version(path, spark) == v_after + 1
        assert (4, 10, "d") in set(map(tuple, blind.collect()))
        # a default-mode merge right after a caller-id commit must NOT
        # be mistaken for its retry (the default id derives from the
        # latest marker, never colliding with it)
        fourth = spark.createDataFrame([(5, 10, "e")], "k long, ts long, v string")
        s3.merge_upsert_table(fourth, path, keys=["k"], commit_id=v_after + 2)
        merged = s3.merge_upsert_table(
            spark.createDataFrame([(6, 10, "f")], "k long, ts long, v string"),
            path, keys=["k"],
        )
        got = set(map(tuple, merged.collect()))
        assert (5, 10, "e") in got and (6, 10, "f") in got

    def test_empty_batch_semantics(self, spark, tmp_prefix):
        # an empty batch on a FRESH table raises a ValueError naming
        # the empty input (not an opaque "produced no snapshot"); on
        # an EXISTING table it returns the current snapshot unchanged
        import pytest

        from aws_data_wrangler_spark import s3

        path = f"{tmp_prefix}/upsert_empty"
        empty = spark.createDataFrame([], "k long, ts long, v string")
        with pytest.raises(ValueError, match="empty"):
            s3.merge_upsert_table(empty, path, keys=["k"], order_col="ts")
        seeded = spark.createDataFrame([(1, 10, "a")], "k long, ts long, v string")
        s3.merge_upsert_table(seeded, path, keys=["k"], order_col="ts")
        unchanged = s3.merge_upsert_table(empty, path, keys=["k"], order_col="ts")
        assert sorted(map(tuple, unchanged.collect())) == [(1, 10, "a")]


class TestBotocoreKwargShim:
    def test_filters_to_named_params(self):
        from aws_data_wrangler_spark import s3

        def probe(path, suffix=None):  # stand-in target with named params only
            pass

        s3.probe = probe
        try:
            got = s3.get_botocore_valid_kwargs("probe", {"suffix": ".pq", "bogus": 1})
            assert got == {"suffix": ".pq"}
        finally:
            del s3.probe

    def test_var_keyword_targets_accept_everything(self):
        # most engine functions absorb reference-only kwargs via **_ —
        # filtering those against named params would wrongly return {}
        from aws_data_wrangler_spark import s3

        got = s3.get_botocore_valid_kwargs(
            "get_bucket_region", {"RequestPayer": "requester", "ExpectedBucketOwner": "x"}
        )
        assert got == {"RequestPayer": "requester", "ExpectedBucketOwner": "x"}

    def test_unknown_function_passes_through(self):
        from aws_data_wrangler_spark import s3

        assert s3.get_botocore_valid_kwargs("no_such_fn", {"a": 1}) == {"a": 1}
