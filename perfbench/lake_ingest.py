"""lake_ingest: one client commits a seeded stream of batches to one
``day``-partitioned table registered in the catalog.

Per cycle of six ops: four appends (``s3.to_parquet(dataset=True,
partition_cols=["day"], mode="append", database, table)``), one
``overwrite_partitions`` restatement of yesterday, and one
``s3.merge_upsert_table`` of key updates into a dimension table. Batches
favour recent days and the current day advances every two ops, so the
table and its partition count grow over the run and costs that scale
with dataset size show. Warm-up runs one cycle against separate tables.

The check compares the committed rows (count and checksum per day, read
back by DuckDB), the catalog's partitions and the dimension table's
latest snapshot with the state computed from the generated batches.
"""

from __future__ import annotations

import os
from typing import Any, Dict, Tuple

import numpy as np
import pandas as pd

import gen

BATCH_ROWS = 200_000
UPSERT_ROWS = 20_000
N_FILES = 4
CYCLE = ("append", "append", "restate", "append", "append", "upsert")
DB = "lake"


def generate(run: Any) -> None:
    run.batch_rng = np.random.default_rng([run.seed, 1])
    run.next_event_id = 0
    run.day_state: Dict[int, Tuple[int, int]] = {}  # day -> (rows, checksum sum)
    run.dim_state: Dict[int, Tuple[str, int, int]] = {}  # user -> (region, tier, ts)
    run.batch_no = 0
    run.catalog_table = f"{DB}.t_events"


def _make_batch(run: Any, i: int, prefix: str) -> Tuple[str, str, Any, int]:
    """Write batch ``i``'s input files; returns (kind, path, table, bytes)."""
    rng = run.batch_rng
    kind = CYCLE[i % len(CYCLE)]
    current = min(i // 2 + 1, gen.N_DAYS - 1)
    run.batch_no += 1
    path = os.path.join(run.inputs, f"{prefix}-{run.batch_no:04d}")
    if kind == "upsert":
        ids = rng.choice(gen.N_USERS, UPSERT_ROWS, replace=False)
        table = gen.users(rng, ids, updated_ts=run.batch_no)
        n_files = 2
    else:
        n = BATCH_ROWS
        if kind == "restate":
            days = np.full(n, current - 1)
        else:
            days = gen.recent_days(rng, n, current)
        table = gen.events(rng, run.next_event_id, days)
        run.next_event_id += n
        n_files = N_FILES
    return kind, path, table, gen.write_files(table, path, n_files)


def _commit(run: Any, kind: str, path: str, prefix: str) -> None:
    import aws_data_wrangler_spark as wr

    df = wr.s3.read_parquet(path)
    if kind == "upsert":
        wr.s3.merge_upsert_table(df, os.path.join(run.lake, f"{prefix}_users"), keys=["user_id"], order_col="updated_ts")
        return
    wr.s3.to_parquet(
        df, os.path.join(run.lake, f"{prefix}_events"), dataset=True, partition_cols=["day"],
        mode="append" if kind == "append" else "overwrite_partitions",
        database=DB, table=f"{prefix}_events",
    )


def setup(run: Any) -> None:
    import aws_data_wrangler_spark as wr

    wr.catalog.create_database(DB)


def warmup(run: Any) -> None:
    for i in range(len(CYCLE)):
        kind, path, _, _ = run.generate(lambda: _make_batch(run, i, "warm"))
        run.op(0, lambda: _commit(run, kind, path, "warm"), timed=False)


def _record(run: Any, kind: str, table: Any) -> None:
    """Fold a committed batch into the expected state."""
    if kind == "upsert":
        cols = table.to_pydict()
        for u, r, t, ts in zip(cols["user_id"], cols["region"], cols["tier"], cols["updated_ts"]):
            run.dim_state[u] = (r, t, ts)
        return
    frame = table.select(["day", "checksum"]).to_pandas()
    frame["day"] = frame["day"].map(gen.DAYS.index)
    per_day = frame.groupby("day")["checksum"].agg(["count", "sum"])
    for day, (count, total) in per_day.iterrows():
        old = (0, 0) if kind == "restate" else run.day_state.get(day, (0, 0))
        run.day_state[int(day)] = (old[0] + int(count), old[1] + int(total))


def next_op(run: Any, i: int) -> None:
    kind, path, table, nbytes = run.generate(lambda: _make_batch(run, i, "t"))
    run.input_bytes += nbytes
    before = run.failed
    run.op(table.num_rows, lambda: _commit(run, kind, path, "t"), kind=kind)
    if run.failed == before:
        _record(run, kind, table)


def check(run: Any) -> int:
    """0 when the table, the catalog and the dimension match the batches."""
    import duckdb

    import aws_data_wrangler_spark as wr

    problems = []
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    got = con.execute(
        "SELECT day, count(*) AS n, sum(checksum) AS s FROM read_parquet("
        f"'{os.path.join(run.lake, 't_events')}/*/*.parquet', hive_partitioning = true, "
        "hive_types = {'day': VARCHAR}) GROUP BY day"
    ).df()
    got_state = {gen.DAYS.index(d): (int(n), int(s)) for d, n, s in got.itertuples(index=False)}
    if got_state != run.day_state:
        problems.append(f"table rows per day differ: got {len(got_state)} days, want {len(run.day_state)}")
    parts = sorted(v[0] for v in wr.catalog.get_partitions(DB, "t_events").values())
    want_parts = sorted(gen.DAYS[d] for d in run.day_state)
    if parts != want_parts:
        problems.append(f"catalog partitions {parts[:3]}... != days written {want_parts[:3]}...")
    if run.dim_state:
        snapshot = max(
            (d for d in os.listdir(os.path.join(run.lake, "t_users")) if d.startswith("v=")),
            key=lambda d: int(d[2:]),
        )
        dim = con.execute(
            "SELECT user_id, region, tier, updated_ts FROM read_parquet("
            f"'{os.path.join(run.lake, 't_users', snapshot)}/*.parquet') ORDER BY user_id"
        ).df()
        want = pd.DataFrame(
            [(u, *v) for u, v in sorted(run.dim_state.items())],
            columns=["user_id", "region", "tier", "updated_ts"],
        )
        if not dim.astype(str).equals(want.astype(str)):
            problems.append("dimension snapshot differs from the merged updates")
    con.close()
    run.errors.extend(problems)
    return run.attempted if problems else 0


def stored_bytes(run: Any) -> int:
    return sum(
        gen.dir_bytes(os.path.join(run.lake, d)) for d in ("t_events", "t_users")
    )
