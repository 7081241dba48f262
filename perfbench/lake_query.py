"""lake_query: one client runs a seeded query mix over a day-partitioned
fact table and a dimension table.

The fact table is generated in its lake layout (``day=...`` directories,
several files each) and set-up registers it with ``catalog``; the
dimension table is written and registered by ``s3.to_parquet``. So the
timed loop exercises ``athena``, the ``s3`` read path and ``catalog``
lookups, and the ``s3`` write path does no work.

Ops, in a fixed interleaved order per round with seeded parameters:
``athena.read_sql_query`` partition point lookups, a pruned range scan,
a full group-by, a top-k, a dimension join and repeated "dashboard"
queries issued with ``max_cache_seconds``; ``s3.read_parquet(dataset=True,
filters=...)`` reads; and one ``catalog`` metadata call. Every result
comes back to the driver as pandas. After the timed loop every result
is compared with DuckDB running the same SQL over the generated files.
"""

from __future__ import annotations

import os
from typing import Any, Dict, List, Tuple

import numpy as np
import pandas as pd

import gen

N_ROWS = 4_000_000
FILES_PER_DAY = 4
EVENT_TYPES = {
    "event_id": "bigint", "user_id": "bigint", "category": "string", "amount_cents": "bigint",
    "qty": "int", "ts": "bigint", "checksum": "bigint",
}
WARMUP_ROUNDS = 1
DB = "lake"

# dashboards: a small fixed set, so repeats hit the result cache
DASHBOARD_DAYS = (1, 3, 7, 14)
DASHBOARDS = [
    "SELECT category, count(*) AS n, sum(amount_cents) AS s FROM lake.events "
    f"WHERE day >= '{gen.DAYS[-k]}' GROUP BY category"
    for k in DASHBOARD_DAYS
]


def _round(rng: np.random.Generator) -> List[Tuple[str, Any, range]]:
    """One round of the mix: (kind, sql or read args, days the op covers).

    Per round of 19: the 4 dashboards (cache hits once warm), a
    partition point lookup, a filtered read, a catalog call and 12
    executor-bound scans, 3 each of a pruned 7-day range group-by, a
    full-table group-by, a 14-day top-k and a 10-day dimension join.
    Sorted by latency the 7 light ops come first, so the median falls a
    fifth of the way into the scans and the p90 near their top, away
    from the border between light and heavy ops: the driver-bound light
    ops are the least repeatable.
    """
    d = lambda: int(rng.integers(0, gen.N_DAYS))  # noqa: E731
    day, user = d(), int(rng.integers(0, 2000))
    light: List[Tuple[str, Any, range]] = [(
        "lookup",
        "SELECT event_id, user_id, category, amount_cents, qty FROM lake.events "
        f"WHERE day = '{gen.DAYS[day]}' AND user_id = {user}",
        range(day, day + 1),
    )]
    day = d()
    light.append(("read", (gen.DAYS[day], gen.CATEGORIES[int(rng.integers(0, len(gen.CATEGORIES)))]), range(day, day + 1)))
    light.append(("catalog", None, range(0)))
    heavy: List[Tuple[str, Any, range]] = []
    for _ in range(3):
        a = int(rng.integers(0, gen.N_DAYS - 7))
        heavy.append((
            "scan",
            "SELECT category, count(*) AS n, sum(amount_cents) AS s FROM lake.events "
            f"WHERE day BETWEEN '{gen.DAYS[a]}' AND '{gen.DAYS[a + 6]}' AND qty >= {int(rng.integers(5, 15))} "
            "GROUP BY category",
            range(a, a + 7),
        ))
        heavy.append((
            "scan",
            "SELECT day, count(*) AS n, sum(amount_cents) AS s, max(qty) AS mq FROM lake.events "
            f"WHERE category <> '{gen.CATEGORIES[int(rng.integers(0, len(gen.CATEGORIES)))]}' GROUP BY day",
            range(gen.N_DAYS),
        ))
        b = int(rng.integers(0, gen.N_DAYS - 14))
        heavy.append((
            "scan",
            "SELECT user_id, sum(amount_cents) AS s, count(*) AS n FROM lake.events "
            f"WHERE day BETWEEN '{gen.DAYS[b]}' AND '{gen.DAYS[b + 13]}' "
            "GROUP BY user_id ORDER BY s DESC, user_id LIMIT 20",
            range(b, b + 14),
        ))
        c = int(rng.integers(0, gen.N_DAYS - 10))
        heavy.append((
            "scan",
            "SELECT u.region, u.tier, count(*) AS n, sum(e.amount_cents) AS s "
            "FROM lake.events e JOIN lake.users u ON e.user_id = u.user_id "
            f"WHERE e.day BETWEEN '{gen.DAYS[c]}' AND '{gen.DAYS[c + 9]}' GROUP BY u.region, u.tier",
            range(c, c + 10),
        ))
    # every dashboard once per round: hits once warm, same work each round
    dash = [("dash", sql, range(gen.N_DAYS - k, gen.N_DAYS)) for k, sql in zip(DASHBOARD_DAYS, DASHBOARDS)]
    # spread each class evenly over the round, so a run that stops
    # mid-round still sees the classes in the same proportions
    slots = [((j + 0.5) / len(cls), c, op) for c, cls in enumerate((heavy, light, dash)) for j, op in enumerate(cls)]
    return [op for _, _, op in sorted(slots, key=lambda x: x[:2])]


def generate(run: Any) -> None:
    def make() -> None:
        # the fact table is generated directly in its day-partitioned
        # lake layout, so set-up only registers it
        rng = np.random.default_rng([run.seed, 1])
        run.day_rows = rng.multinomial(N_ROWS, [1 / gen.N_DAYS] * gen.N_DAYS)
        first = 0
        for day, n in enumerate(run.day_rows):
            part = gen.events(rng, first, np.full(n, day)).drop(["day"])
            path = os.path.join(run.lake, "events", f"day={gen.DAYS[day]}")
            run.input_bytes += gen.write_files(part, path, FILES_PER_DAY)
            first += n
        users = gen.users(rng, np.arange(gen.N_USERS), 0)
        run.input_bytes += gen.write_files(users, os.path.join(run.inputs, "users"), 2)

    run.generate(make)
    run.catalog_table = f"{DB}.events"
    run.table_partitions = gen.N_DAYS
    run.results = []  # (kind, arg, pandas result) per timed op
    run.mix_rng = np.random.default_rng([run.seed, 2])
    run.pending = []


def setup(run: Any) -> None:
    """Register the fact table in the catalog and write the dimension
    table through the program."""
    import aws_data_wrangler_spark as wr

    wr.catalog.create_parquet_table(
        DB, "events", os.path.join(run.lake, "events"), columns_types=EVENT_TYPES, partitions_types={"day": "string"}
    )
    wr.catalog.repair_table_partitions(DB, "events")
    users = wr.s3.read_parquet(os.path.join(run.inputs, "users"))
    wr.s3.to_parquet(users, os.path.join(run.lake, "users"), dataset=True, mode="overwrite", database=DB, table="users")


def _execute(run: Any, kind: str, arg: Any) -> pd.DataFrame:
    import aws_data_wrangler_spark as wr

    if kind in ("lookup", "scan"):
        return run.force(wr.athena.read_sql_query(arg, database=DB), "pandas")
    if kind == "dash":
        return run.force(wr.athena.read_sql_query(arg, database=DB, max_cache_seconds=3600), "pandas")
    if kind == "read":
        day, cat = arg
        df = wr.s3.read_parquet(
            os.path.join(run.lake, "events"), dataset=True,
            filters=[("day", "=", day), ("category", "=", cat)],
        )
        return run.force(df, "pandas")
    parts = wr.catalog.get_partitions(DB, "events")
    return pd.DataFrame({"day": sorted(v[0] for v in parts.values())})


def warmup(run: Any) -> None:
    import aws_data_wrangler_spark as wr

    rng = np.random.default_rng([run.seed, 3])
    for _ in range(WARMUP_ROUNDS):
        for kind, arg, _ in _round(rng):
            run.op(0, lambda: _execute(run, kind, arg), timed=False)
    # the timed loop starts with a cold result cache
    wr.athena.flush_cache()


def next_op(run: Any, i: int) -> None:
    if not run.pending:
        run.pending = _round(run.mix_rng)
    kind, arg, days = run.pending.pop(0)
    # logical rows: every row of the days the op covers
    rows = int(run.day_rows[days.start : days.stop].sum())
    result = run.op(rows, lambda: _execute(run, kind, arg), kind=kind)
    if result is not None:
        run.results.append((kind, arg, result))


# ---------------------------------------------------------------- checks

def _digest(df: pd.DataFrame) -> np.ndarray:
    """Order-free fingerprint of a result: the sorted row hashes after
    integral floats (DuckDB's sum of BIGINT) become int64, other floats
    are rounded to 6 places and everything else becomes text."""
    df = df.copy()
    for c in df.columns:
        col = df[c]
        if col.dtype.kind == "f":
            col = col.round(6)
            if col.notna().all() and (col == col.round()).all():
                col = col.astype("int64")
        elif col.dtype.kind in "iu":
            col = col.astype("int64")
        else:
            col = col.astype(str)
        df[c] = col
    return np.sort(pd.util.hash_pandas_object(df, index=False).to_numpy())


def check(run: Any) -> int:
    """Number of timed ops whose result differs from DuckDB's."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("CREATE SCHEMA lake")
    # in-memory copies of the generated inputs: each query then costs
    # milliseconds instead of a parquet scan
    con.execute(
        "CREATE TABLE lake.events AS SELECT * FROM read_parquet("
        f"'{os.path.join(run.lake, 'events')}/*/*.parquet', hive_partitioning = true, "
        "hive_types = {'day': VARCHAR})"
    )
    con.execute(f"CREATE TABLE lake.users AS SELECT * FROM read_parquet('{os.path.join(run.inputs, 'users')}/*.parquet')")
    expected: Dict[Any, Tuple[List[str], np.ndarray]] = {}
    bad = 0
    for kind, arg, got in run.results:
        key = (kind, arg)
        if key not in expected:
            if kind in ("lookup", "scan", "dash"):
                want = con.execute(arg).df()
            elif kind == "read":
                want = con.execute("SELECT * FROM lake.events WHERE day = ? AND category = ?", list(arg)).df()
            else:
                want = pd.DataFrame({"day": list(gen.DAYS)})
            expected[key] = (list(want.columns), _digest(want))
        columns, want_digest = expected[key]
        if sorted(got.columns) != sorted(columns):
            ok = False
        else:
            got_digest = _digest(got[columns])
            ok = len(got_digest) == len(want_digest) and bool((got_digest == want_digest).all())
        if not ok:
            bad += 1
            if bad <= 3:
                run.errors.append(f"{kind} {arg}: {len(got)} rows differ from DuckDB's result")
    con.close()
    return bad


def stored_bytes(run: Any) -> int:
    return gen.dir_bytes(run.lake)
