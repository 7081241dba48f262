"""DuckDB oracle SQL for every oracle-checkable query.

Analytics queries reuse the exact SQL string the Spark engine runs
(ANSI-compatible subset). Operator queries get independent DuckDB
re-implementations — same semantics, DuckDB builtins — so the Spark
DataFrame plans are checked against a second engine, not themselves.

Conventions shared with the Spark side (see plans/queries.py):
- every float aggregate is rounded (2dp money, 4–6dp ratios);
- per-row float math mirrors the Spark expression tree exactly
  (sequential left-to-right double sums ⇒ bit-identical);
- DuckDB ``regexp_replace`` needs the 'g' flag to match Spark's
  replace-all; ``row_number()``/``sum(int)`` are cast to match Spark
  output types.

Only the BPE encoder lacks an oracle (iterative merge application is
not SQL-expressible → driver records a rows-only check). Everything
else is oracle-checked, including the approximate operators: LSH ANN
buckets are deterministic sign-bit arithmetic replicated literally in
SQL; the registered simhash uses md5-derived signatures (the xxhash64
default has no DuckDB twin); IVF and semdedup pin SEEDED centroids so
assignment is pure dot-product arithmetic; the multimodal query pins
the deterministic fake decoder (sha256 replica).
"""

from __future__ import annotations

from typing import Dict

from aws_data_wrangler_spark.operators._psl import PSL2_REGEX
from aws_data_wrangler_spark.operators.sampling import _threshold_hex
from aws_data_wrangler_spark.plans.queries import (
    ANALYTICS_SQL,
    SAMPLE_DEFAULT,
    SAMPLE_FRACTIONS,
)

# floor-truncation at 6dp (not round): identical doubles floor identically
# in every engine, while round-half behavior differs (see functions.trunc_digits)
_COSINE = (
    "floor((list_dot_product({a}.embedding::DOUBLE[], {b}.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product({a}.embedding::DOUBLE[], {a}.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product({b}.embedding::DOUBLE[], {b}.embedding::DOUBLE[])))) * 1000000.0) / 1000000.0"
)

# DSIR scoring replica, shared by the batch resample and the streaming
# gate: md5-derived 512-bucket n-gram hashing, add-one-smoothed ln
# ratios from exact ints (IEEE divide + libm ln — the surprisal
# discipline), per-doc fold in n-gram position order (list(... ORDER BY
# pos) + list_sum ≡ Spark's sequential `aggregate`). Documents whose
# token list is empty score 0.0 (LEFT JOIN + coalesce here; fold over
# an empty array there). Ends with the `scored` CTE: (doc_id, score).
_DSIR_SCORED_CTES = """toks AS (
            SELECT doc_id, lang,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                               x -> length(x) > 0) AS t
            FROM documents
        ), grams AS (
            SELECT doc_id, lang,
                   list_concat(
                       t,
                       CASE WHEN len(t) >= 2
                            THEN list_transform(range(1, len(t)),
                                                i -> t[i] || ' ' || t[i+1])
                            ELSE []::VARCHAR[] END
                   ) AS g
            FROM toks
        ), exploded AS (
            SELECT doc_id, lang,
                   unnest(list_transform(range(1, len(g)+1),
                                         i -> {'pos': i, 'gram': g[i]})) AS s
            FROM grams
        ), hashed AS (
            SELECT doc_id, lang, s.pos AS pos,
                   ('0x' || substr(md5(s.gram), 1, 15))::BIGINT % 512 AS b
            FROM exploded
        ), raw_cnt AS (
            SELECT b, count(*) AS c FROM hashed GROUP BY b
        ), tgt_cnt AS (
            SELECT b, count(*) AS c FROM hashed WHERE lang = 'en' GROUP BY b
        ), lr AS (
            SELECT r.b AS b,
                   ln((coalesce(t.c, 0) + 1)::DOUBLE /
                      ((SELECT count(*) FROM hashed WHERE lang = 'en') + 512)::DOUBLE)
                   - ln((r.c + 1)::DOUBLE /
                        ((SELECT count(*) FROM hashed) + 512)::DOUBLE) AS lr
            FROM raw_cnt r LEFT JOIN tgt_cnt t USING (b)
        ), folded AS (
            SELECT h.doc_id, list_sum(list(lr.lr ORDER BY h.pos)) AS score
            FROM hashed h JOIN lr USING (b)
            GROUP BY h.doc_id
        ), scored AS (
            SELECT d.doc_id, coalesce(f.score, 0.0) AS score
            FROM documents d LEFT JOIN folded f USING (doc_id)
        )"""


def _mmr_oracle_sql(k_cand: int = 15, k: int = 5, lam: float = 0.7) -> str:
    """Exact DuckDB replica of the registered ``ann_mmr_rerank`` query:
    brute-force top-``k_cand`` (the 6dp-truncated cosine, the shared
    convention) re-ranked by ``k`` UNROLLED greedy MMR steps — each
    step an argmax window (ties → lowest id) and a max-similarity
    update via ``list_dot_product`` (sequential fold ≡ Spark's
    ``aggregate``, the embedding-oracle precedent). λ and 1−λ are
    emitted via ``repr`` so both engines multiply the same doubles.
    """
    l_, one_minus = repr(lam), repr(1 - lam)
    steps = []
    prev = "cand0"
    selects = []
    for r in range(1, k + 1):
        score = (
            "rel"
            if r == 1
            else f"{l_} * rel - {one_minus} * max_sim"
        )
        steps.append(f"""pick{r} AS (
            SELECT query_id, nid, v, nrm, score
            FROM (SELECT query_id, nid, v, nrm, ({score}) AS score,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY ({score}) DESC, nid) AS rn
                  FROM {prev})
            WHERE rn = 1
        )""")
        selects.append(
            f"SELECT query_id, nid AS neighbor_id, {r} AS mmr_rank,\n"
            f"       floor(score * 1000000.0) / 1000000.0 AS mmr_score FROM pick{r}"
        )
        if r == k:
            break
        update = (
            f"list_dot_product(c.v, p.v) / (c.nrm * p.nrm)"
            if r == 1
            else f"greatest(c.max_sim, list_dot_product(c.v, p.v) / (c.nrm * p.nrm))"
        )
        steps.append(f"""cand{r} AS (
            SELECT c.query_id, c.nid, c.rel, c.v, c.nrm,
                   ({update}) AS max_sim
            FROM {prev} c JOIN pick{r} p USING (query_id)
            WHERE c.nid <> p.nid
        )""")
        prev = f"cand{r}"
    return f"""
        WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS nid,
                   {_COSINE.format(a='q', b='c')} AS rel
            FROM q, embeddings c
            WHERE c.vec_id <> q.vec_id
        ), shortlist AS (
            SELECT query_id, nid, rel
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY rel DESC, nid) AS rk
                  FROM scored)
            WHERE rk <= {k_cand}
        ), cand0 AS (
            SELECT s.query_id, s.nid, s.rel,
                   e.embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(e.embedding::DOUBLE[],
                                         e.embedding::DOUBLE[])) AS nrm
            FROM shortlist s JOIN embeddings e ON e.vec_id = s.nid
        ), {', '.join(steps)}
        SELECT * FROM ({' UNION ALL '.join(selects)})
        ORDER BY query_id, mmr_rank
    """


def _lsh_ann_oracle_sql(
    k: int = 5, num_planes: int = 4, num_tables: int = 8, dim: int = 64, seed: int = 42
) -> str:
    """Exact DuckDB replica of ``similarity.lsh_topk``.

    The LSH buckets are pure arithmetic — sign bits of dot products
    against DETERMINISTIC hyperplanes (fixed seed) — so unlike the
    hash-based sketches (minhash slots, simhash votes: xxhash64 has no
    DuckDB twin) the whole approximate pipeline is reproducible in
    SQL: the plane weights are inlined as literals (floats round-trip
    exactly through repr), buckets equi-join per table, candidates
    score with the shared truncated-cosine convention.
    """
    from aws_data_wrangler_spark.operators.similarity import _hyperplanes

    selects = []
    for t in range(num_tables):
        bits = []
        for i, plane in enumerate(_hyperplanes(dim, num_planes, seed + t)):
            lits = "[" + ",".join(repr(float(w)) for w in plane) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {lits}::DOUBLE[]) >= 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        selects.append(
            f"SELECT vec_id, {t} AS tbl, ({' + '.join(bits)}) AS bucket FROM embeddings"
        )
    buckets_sql = "\n            UNION ALL ".join(selects)
    return f"""
        WITH buckets AS (
            {buckets_sql}
        ),
        cand AS (
            SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS c_id
            FROM buckets qb JOIN buckets cb
              ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket
            WHERE qb.vec_id < 10 AND cb.vec_id <> qb.vec_id
        ),
        scored AS (
            SELECT cand.q_id AS query_id, cand.c_id AS neighbor_id,
                   {_COSINE.format(a='q', b='c')} AS cosine
            FROM cand
            JOIN embeddings q ON q.vec_id = cand.q_id
            JOIN embeddings c ON c.vec_id = cand.c_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cosine
        FROM ranked WHERE rank <= {k}
        ORDER BY query_id, rank
    """



def _spark_percentile_expr(vs: str, n: str, q: float) -> str:
    """Spark's exact R-7 interpolation — ``lower + g*(upper-lower)`` —
    over a sorted DuckDB list. quantile_cont computes the algebraically
    equal ``(1-g)*lower + g*upper``, whose double can differ in the
    last bit and land BELOW a duplicated lower value, flipping any
    bucket comparison on a data point at the boundary (observed on the
    perplexity terciles at sf0.1); every percentile oracle replicates
    Spark's form instead."""
    lo_idx = f"CAST(floor(({n}-1) * {q!r}) AS BIGINT) + 1"
    g = f"(({n}-1) * {q!r} - floor(({n}-1) * {q!r}))"
    return (
        f"({vs}[{lo_idx}] + {g} * "
        f"({vs}[least({lo_idx} + 1, {n})] - {vs}[{lo_idx}]))"
    )


def _spark_percentile_agg_expr(vs: str, n: str, q: float) -> str:
    """Replica of Spark's ``percentile()`` AGGREGATE (Percentile.scala):
    ``(higher − pos)·lowerKey + (pos − lower)·higherKey`` over a sorted
    list, with the lower key returned outright when the position is
    integral. This is a THIRD interpolation form — algebraically equal
    to ``_spark_percentile_expr``'s R-7 ``lower + g·(upper − lower)``
    but differing in the last ULP (observed: 214.6445 vs
    …49999999997 at p=0.99 over events.value), which flips a 6dp
    floor on boundary values. Everything is CAST to DOUBLE up front —
    a bare ``0.99`` literal is DECIMAL in DuckDB and its exact-decimal
    ``g`` diverges from Spark's double ``g`` in the same last-ULP
    way."""
    pos = f"(CAST({q!r} AS DOUBLE) * ({n} - 1))"
    lo = f"CAST(floor({pos}) AS BIGINT)"
    hi = f"CAST(ceil({pos}) AS BIGINT)"
    return (
        f"(CASE WHEN {hi} = {lo} THEN {vs}[{lo} + 1] "
        f"ELSE ({hi} - {pos}) * {vs}[{lo} + 1] + "
        f"({pos} - {lo}) * {vs}[{hi} + 1] END)"
    )


def _temperature_mix_sql(src: str, stratum: str, with_prefix: str = "WITH ") -> str:
    """The mT5 temperature-fraction chain under the r12 quantized-micro
    convention (the distributed ``temperature_thresholds`` replica —
    VERDICT r11 #4): sqrt weights floor onto a 1e-6 integer grid, the
    micro total is an EXACT hugeint sum (≡ Spark's ``decimal(38,0)``
    sum — order-free, the point of the rewrite), the fraction derives
    in IEEE double with the same operation tree
    ``(T · m/1e6) / ((M/1e6) · n)``, then the round()/printf hex
    threshold (DuckDB round ≡ Spark round HALF_UP on positives) and
    the shared md5-prefix coin — over ``src`` exposing
    ``(doc_id, <stratum>)``. ONE builder owns the threshold arithmetic
    (the shared-fragment rule), shared by ``sample_temperature``
    (strata = lang) and ``sample_domain_temperature`` (strata =
    registered domain over the ``_CANON_URL_CTES`` output). NULL
    strata are excluded from the totals and the output, matching the
    operator."""
    return f"""
        {with_prefix}counts AS (
            SELECT {stratum}, CAST(count(*) AS BIGINT) AS n FROM {src}
            WHERE {stratum} IS NOT NULL GROUP BY {stratum}
        ), w AS (
            SELECT {stratum}, n,
                   CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6) AS HUGEINT) AS m
            FROM counts
        ), tot AS (
            SELECT SUM(m) AS mm, SUM(n) AS total_n FROM w
        ), frac AS (
            SELECT w.{stratum}, w.n,
                   least(CAST(1.0 AS DOUBLE),
                         (CAST(tot.total_n // 2 AS DOUBLE)
                          * (CAST(w.m AS DOUBLE) / 1e6))
                         / ((CAST(tot.mm AS DOUBLE) / 1e6)
                            * CAST(w.n AS DOUBLE))) AS f
            FROM w, tot
        ), thr AS (
            SELECT {stratum}, f,
                   printf('%08x', least(CAST(round(f * 4294967296.0) AS BIGINT),
                                        4294967295)) AS thr_hex
            FROM frac
        )
        SELECT d.{stratum},
               CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(d.doc_id) AS BIGINT) AS id_sum
        FROM {src} d JOIN thr ON thr.{stratum} = d.{stratum}
        WHERE thr.f >= 1.0
           OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.thr_hex
        GROUP BY d.{stratum}
        ORDER BY d.{stratum}
    """


def _hash_split_oracle_sql() -> str:
    """Band thresholds come from the OPERATOR's own ``split_bounds``
    (same float accumulation, same hex rounding) — shared by
    construction, never re-derived."""
    from aws_data_wrangler_spark.operators.sampling import split_bounds

    bounds = split_bounds({"train": 0.8, "val": 0.1, "test": 0.1})
    case = "CASE "
    for name, bound in bounds[:-1]:
        case += f"WHEN p < '{bound}' THEN '{name}' "
    case += f"ELSE '{bounds[-1][0]}' END"
    return f"""
        WITH s AS (
            SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS p
            FROM documents
        ), labeled AS (
            SELECT p, {case} AS split FROM s
        )
        SELECT split, count(*)::BIGINT AS n_docs,
               min(p) AS lo_prefix, max(p) AS hi_prefix
        FROM labeled GROUP BY split ORDER BY split
    """


def _quantile_invariants_oracle_sql(
    flags=("merged_within_eps", "single_within_eps"),
) -> str:
    """The HLL-invariant convention for the quantile-sketch rows: pin
    ``n_rows`` and ``exact_q`` (Spark's exact R-7 percentile form,
    floor 6dp) exactly; the sketch-envelope booleans (``flags`` —
    batch/merged/single for the batch row, the stream flag for the
    monitor row) are asserted TRUE — the merged estimate is
    deterministic but sketch-shaped, so the INVARIANTS are the
    cross-engine contract."""
    rows = []
    for p in (0.25, 0.5, 0.75, 0.9, 0.99):
        q = _spark_percentile_agg_expr("vs", "n", p)
        flag_sql = ",\n".join(f"                   true AS {f}" for f in flags)
        rows.append(
            f"SELECT CAST({p!r} AS DOUBLE) AS p, n AS n_rows,\n"
            f"                   floor(({q}) * 1000000) / 1000000 AS exact_q,\n"
            f"{flag_sql} FROM v"
        )
    union = "\n            UNION ALL\n            ".join(rows)
    return f"""
        WITH v AS (
            SELECT list(value ORDER BY value) AS vs,
                   count(value)::BIGINT AS n
            FROM events WHERE value IS NOT NULL
        )
        {union}
        ORDER BY p
    """


def _cms_oracle_sql(with_invariant: bool, depth: int = 4, width: int = 1024) -> str:
    """Count-Min point-query oracle, shared by the batch invariant row
    (``profiling_cms_frequencies``) and the streaming monitor
    (``streaming_heavyhitter_monitor``) — the streamed state merges to
    the IDENTICAL counter table (integer cell sums commute), so the
    rows differ only in the asserted ``merged_eq_single`` column. The
    full estimate arithmetic is replicated: rebuild the merged
    ``depth × width`` counter table with the operator's md5 row hashes
    and read ``min_i counter[i][h_i(key)]`` per probe — ``cms_est`` is
    exact-matched cell-for-cell, no sketch envelope needed."""
    invariant = ",\n               true AS merged_eq_single" if with_invariant else ""
    return f"""
        WITH rows_i AS (SELECT unnest(range({depth})) AS row_i),
        cells AS (
            SELECT row_i,
                   ('0x' || substr(md5(row_i::VARCHAR || ':' || event_type), 1, 15))::BIGINT
                       % {width} AS bucket,
                   count(*)::BIGINT AS cnt
            FROM events, rows_i
            WHERE event_type IS NOT NULL
            GROUP BY 1, 2
        ), probes AS (
            SELECT DISTINCT event_type AS value FROM events
            WHERE event_type IS NOT NULL
        ), probe_cells AS (
            SELECT value, row_i,
                   ('0x' || substr(md5(row_i::VARCHAR || ':' || value), 1, 15))::BIGINT
                       % {width} AS bucket
            FROM probes, rows_i
        ), est AS (
            SELECT value, min(coalesce(c.cnt, 0))::BIGINT AS cms_est
            FROM probe_cells p
            LEFT JOIN cells c USING (row_i, bucket)
            GROUP BY value
        ), true_counts AS (
            -- plain `value` would hit events.value (a double column);
            -- the probe key is the event_type
            SELECT event_type AS value, count(*)::BIGINT AS n_true
            FROM events WHERE event_type IS NOT NULL
            GROUP BY event_type
        )
        SELECT t.value, t.n_true, e.cms_est{invariant}
        FROM true_counts t JOIN est e USING (value)
        ORDER BY t.value
    """


def _deciles_oracle_sql() -> str:
    bounds = ",\n                    ".join(
        _spark_percentile_expr("vs", "n", i / 10.0) for i in range(1, 10)
    )
    return f"""
        WITH o AS (
            SELECT list(o_totalprice ORDER BY o_totalprice) AS vs,
                   count(*) AS n
            FROM orders
        ), b AS (
            SELECT [{bounds}] AS bs
            FROM o
        )
        SELECT decile,
               count(*) AS n_orders,
               round(min(o_totalprice), 2) AS lo,
               round(max(o_totalprice), 2) AS hi
        FROM (
            SELECT o_totalprice,
                   CAST(1 + len(list_filter(b.bs, x -> o_totalprice > x)) AS INTEGER) AS decile
            FROM orders CROSS JOIN b
        ) d
        GROUP BY decile
        ORDER BY decile
    """


def _ivf_ann_oracle_sql(
    k: int = 5,
    nprobe: int = 4,
    num_seeds: int = 16,
    deleted: tuple = (),
    cand_where: str = "",
) -> str:
    """Exact DuckDB replica of the registered ``ann_ivf_topk`` query:
    SEEDED centroids (the ``num_seeds`` lowest-id vectors, the
    operator's pre-trained-centroids path) with the cosine coarse
    metric, so cell assignment (argmax cosine, ties → lowest cid),
    probe selection (top-``nprobe`` cells per query), and the exact
    rescore are all deterministic dot-product arithmetic. Assignment
    ordering compares raw doubles — both engines run the same
    sequential dot products (the semdedup-oracle precedent); only the
    emitted cosine is 6dp floor-truncated.

    ``deleted`` replicates ``delete_from_partitioned_index``
    tombstones: the ids are excluded from the CANDIDATE pool only
    (centroid seeding and query selection see the pre-delete corpus,
    exactly like the Spark side where centroids are trained artifacts
    and tombstones anti-join the index scan).

    ``cand_where`` replicates the metadata filter of a filtered search
    (``ivf_partitioned_topk(where=...)``): a predicate over candidate
    attributes (e.g. ``c.label < 4``), applied to the CANDIDATE pool
    only — seeding, assignment, and query selection see the full
    corpus, exactly like the Spark side where the predicate lands on
    the index scan."""
    not_deleted = (
        f"AND c.vec_id NOT IN ({', '.join(str(int(i)) for i in deleted)})"
        if deleted
        else ""
    )
    cand_filter = f"AND ({cand_where})" if cand_where else ""
    return f"""
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
        ), seeds AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
                   v AS cv
            FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT {num_seeds})
        ), cell_scores AS (
            SELECT c.vec_id, s.cid, c.v, c.label,
                   list_dot_product(c.v, s.cv) /
                   (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s.cv, s.cv)))
                       AS s
            FROM corpus c, seeds s
        ), c_cells AS (
            SELECT vec_id, cid, v, label
            FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                               ORDER BY s DESC, cid ASC) AS rn
                  FROM cell_scores)
            WHERE rn = 1
        ), q_cells AS (
            SELECT vec_id, cid, v
            FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                               ORDER BY s DESC, cid ASC) AS rn
                  FROM cell_scores WHERE vec_id < 10)
            WHERE rn <= {nprobe}
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   floor((list_dot_product(q.v, c.v) /
                          (sqrt(list_dot_product(q.v, q.v)) *
                           sqrt(list_dot_product(c.v, c.v)))) * 1000000.0) / 1000000.0
                       AS cosine
            FROM q_cells q JOIN c_cells c ON q.cid = c.cid
            WHERE c.vec_id <> q.vec_id {not_deleted} {cand_filter}
        ), ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cosine
        FROM ranked WHERE rank <= {k}
        ORDER BY query_id, rank
    """


def _pq_ann_oracle_sql(
    k: int = 5, m: int = 8, num_codes: int = 16, sub: int = 8, factor: int = 4
) -> str:
    """Exact DuckDB replica of the registered ``ann_pq_topk`` query:
    SEEDED per-subspace codebooks (the ``num_codes`` lowest-id
    subvectors, zero Lloyd iterations), squared-L2 encode (ties →
    lowest code), ADC scoring via per-query LUT dot products folded in
    subspace order, raw-double shortlist ordering (identical
    arithmetic ⇒ identical doubles, the semdedup precedent), and the
    exact 6dp-truncated rescore."""
    return f"""
        WITH seeds AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
                   embedding::DOUBLE[] AS v
            FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {num_codes})
        ), subs AS (
            SELECT unnest(range(0, {m})) AS sub
        ), books AS (
            SELECT subs.sub, seeds.code,
                   seeds.v[subs.sub * {sub} + 1 : subs.sub * {sub} + {sub}] AS cb
            FROM seeds, subs
        ), corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), dists AS (
            SELECT vec_id, sub, code, list_dot_product(d, d) AS dist
            FROM (SELECT c.vec_id, b.sub, b.code,
                         list_transform(range(1, {sub} + 1),
                                        i -> c.v[b.sub * {sub} + i] - b.cb[i]) AS d
                  FROM corpus c, books b)
        ), codes AS (
            SELECT vec_id, sub, code
            FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                               ORDER BY dist ASC, code ASC) AS rn
                  FROM dists)
            WHERE rn = 1
        ), cnorm AS (
            -- reconstructed norm: sqrt of the sub-ordered fold of the
            -- chosen centroids' norm-squares (matches the Spark side's
            -- sequential literal lookups)
            SELECT c.vec_id,
                   sqrt(list_sum(list(list_dot_product(b.cb, b.cb) ORDER BY c.sub)))
                       AS approx_norm
            FROM codes c JOIN books b ON b.sub = c.sub AND b.code = c.code
            GROUP BY c.vec_id
        ), q AS (
            SELECT vec_id AS q_id, v AS qv,
                   sqrt(list_dot_product(v, v)) AS q_norm
            FROM corpus WHERE vec_id < 10
        ), luts AS (
            SELECT q.q_id, b.sub, b.code,
                   list_dot_product(q.qv[b.sub * {sub} + 1 : b.sub * {sub} + {sub}], b.cb)
                       AS val
            FROM q, books b
        ), adc AS (
            SELECT l.q_id, c.vec_id AS c_id,
                   list_sum(list(l.val ORDER BY l.sub)) AS dot
            FROM codes c JOIN luts l ON l.sub = c.sub AND l.code = c.code
            GROUP BY l.q_id, c.vec_id
        ), approx AS (
            SELECT a.q_id AS query_id, a.c_id AS neighbor_id,
                   a.dot / (q.q_norm * n.approx_norm) AS approx_cosine
            FROM adc a
            JOIN q ON q.q_id = a.q_id
            JOIN cnorm n ON n.vec_id = a.c_id
            WHERE a.q_id <> a.c_id AND n.approx_norm > 0
        ), shortlist AS (
            SELECT query_id, neighbor_id
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY approx_cosine DESC,
                                                        neighbor_id ASC) AS rn
                  FROM approx)
            WHERE rn <= {k * factor}
        ), rescored AS (
            SELECT s.query_id, s.neighbor_id,
                   floor((list_dot_product(qq.qv, c.v) /
                          (qq.q_norm * sqrt(list_dot_product(c.v, c.v)))) * 1000000.0)
                       / 1000000.0 AS cosine
            FROM shortlist s
            JOIN q qq ON qq.q_id = s.query_id
            JOIN corpus c ON c.vec_id = s.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM rescored
        QUALIFY rank <= {k}
        ORDER BY query_id, rank
    """


def _ivfpq_ann_oracle_sql(
    k: int = 5,
    nprobe: int = 4,
    num_centroids: int = 16,
    m: int = 8,
    num_codes: int = 16,
    sub: int = 8,
    dim: int = 64,
    factor: int = 4,
    cand_where: str = "",
) -> str:
    """Exact DuckDB replica of the registered ``ann_ivfpq_topk``
    query: SEEDED coarse centroids (lowest-id vectors) assign cells by
    squared-L2 (ties → lowest cid) and the residual ``d = v − cv`` is
    the assignment diff itself; SEEDED residual codebooks (lowest-id
    residual subvectors, zero Lloyd iterations) encode by squared-L2
    (ties → lowest code); ADC scores only cell-probed pairs
    (``q·centroid + Σ lut[s][code_s]`` over the EXACT corpus norm),
    the shortlist orders raw doubles, and the rescore is the shared
    6dp-truncated exact cosine. Identical sequential-fold arithmetic
    on both engines — the ``ann_pq_topk`` precedent plus the
    assignment join.

    ``cand_where`` replicates a metadata-filtered search
    (``ivfpq_partitioned_topk(where=...)``): the predicate restricts
    the ADC CANDIDATE pairs only (training, assignment, and probing
    see the full corpus), exactly like the Spark side where the
    filter lands on the code scan."""
    cand_filter = f"AND ({cand_where})" if cand_where else ""
    return f"""
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
                   label
            FROM embeddings
        ), cents AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
                   v AS cv
            FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT {num_centroids})
        ), cdiff AS (
            SELECT c.vec_id, s.cid, c.v, c.nrm, c.label,
                   list_transform(range(1, {dim} + 1), i -> c.v[i] - s.cv[i]) AS d
            FROM corpus c, cents s
        ), cdist AS (
            SELECT vec_id, cid, v, nrm, label, d, list_dot_product(d, d) AS dist FROM cdiff
        ), assigned AS (
            -- residual r IS the assignment diff of the winning cell
            SELECT vec_id, cid, nrm, label, d AS r
            FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                               ORDER BY dist ASC, cid ASC) AS rn
                  FROM cdist)
            WHERE rn = 1
        ), seeds AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code, r
            FROM (SELECT vec_id, r FROM assigned ORDER BY vec_id LIMIT {num_codes})
        ), subs AS (
            SELECT unnest(range(0, {m})) AS sub
        ), books AS (
            SELECT subs.sub, seeds.code,
                   seeds.r[subs.sub * {sub} + 1 : subs.sub * {sub} + {sub}] AS cb
            FROM seeds, subs
        ), encdists AS (
            SELECT vec_id, sub, code, list_dot_product(dd, dd) AS dist
            FROM (SELECT a.vec_id, b.sub, b.code,
                         list_transform(range(1, {sub} + 1),
                                        i -> a.r[b.sub * {sub} + i] - b.cb[i]) AS dd
                  FROM assigned a, books b)
        ), codes AS (
            SELECT vec_id, sub, code
            FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                                               ORDER BY dist ASC, code ASC) AS rn
                  FROM encdists)
            WHERE rn = 1
        ), q AS (
            SELECT vec_id AS q_id, v AS qv, nrm AS q_norm
            FROM corpus WHERE vec_id < 10
        ), qcdist AS (
            SELECT q.q_id, s.cid,
                   list_dot_product(
                       list_transform(range(1, {dim} + 1), i -> q.qv[i] - s.cv[i]),
                       list_transform(range(1, {dim} + 1), i -> q.qv[i] - s.cv[i])) AS dist,
                   list_dot_product(q.qv, s.cv) AS qdc
            FROM q, cents s
        ), qcells AS (
            SELECT q_id, cid, qdc
            FROM (SELECT *, row_number() OVER (PARTITION BY q_id
                                               ORDER BY dist ASC, cid ASC) AS rn
                  FROM qcdist)
            WHERE rn <= {nprobe}
        ), luts AS (
            SELECT q.q_id, b.sub, b.code,
                   list_dot_product(q.qv[b.sub * {sub} + 1 : b.sub * {sub} + {sub}], b.cb)
                       AS val
            FROM q, books b
        ), pairs AS (
            -- the cell-keyed equi-join: only corpus rows in probed cells
            SELECT qc.q_id, a.vec_id AS c_id, qc.qdc, a.nrm AS c_norm
            FROM qcells qc JOIN assigned a ON a.cid = qc.cid
            WHERE qc.q_id <> a.vec_id AND a.nrm > 0 {cand_filter}
        ), adc AS (
            SELECT p.q_id, p.c_id, p.qdc, p.c_norm,
                   list_sum(list(l.val ORDER BY l.sub)) AS dot
            FROM pairs p
            JOIN codes c ON c.vec_id = p.c_id
            JOIN luts l ON l.q_id = p.q_id AND l.sub = c.sub AND l.code = c.code
            GROUP BY p.q_id, p.c_id, p.qdc, p.c_norm
        ), approx AS (
            SELECT a2.q_id AS query_id, a2.c_id AS neighbor_id,
                   (a2.qdc + a2.dot) / (q.q_norm * a2.c_norm) AS approx_cosine
            FROM adc a2 JOIN q ON q.q_id = a2.q_id
        ), shortlist AS (
            SELECT query_id, neighbor_id
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                               ORDER BY approx_cosine DESC,
                                                        neighbor_id ASC) AS rn
                  FROM approx)
            WHERE rn <= {k * factor}
        ), rescored AS (
            SELECT s.query_id, s.neighbor_id,
                   floor((list_dot_product(qq.qv, c.v) /
                          (qq.q_norm * c.nrm)) * 1000000.0) / 1000000.0 AS cosine
            FROM shortlist s
            JOIN q qq ON qq.q_id = s.query_id
            JOIN corpus c ON c.vec_id = s.neighbor_id
        )
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM rescored
        QUALIFY rank <= {k}
        ORDER BY query_id, rank
    """


def _arrow_ann_oracle_sql(k: int = 5) -> str:
    """Oracle for the BLAS-matmul brute-force ANN: sequential-sum exact
    cosines stand in for the matmul (difference ~1e-15), the top-k cut
    uses the shared 6dp truncation, and the OUTPUT truncates at 4dp
    with the rank recomputed over the truncated values — so the only
    mismatch channel left is a true cosine within 1e-15 of a 1e-6
    truncation boundary at the membership cut (odds ~1e-7/run)."""
    return f"""
        WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COSINE.format(a='q', b='c')} AS cosine
            FROM q, embeddings c
            WHERE c.vec_id <> q.vec_id
        ), picked AS (
            SELECT query_id, neighbor_id,
                   floor(cosine * 10000.0) / 10000.0 AS cosine
            FROM (
                SELECT query_id, neighbor_id, cosine,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, neighbor_id) AS r
                FROM scored
            ) WHERE r <= {k}
        ), reranked AS (
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank,
                   cosine
            FROM picked
        )
        SELECT query_id, neighbor_id, rank, cosine
        FROM reranked ORDER BY query_id, rank
    """


def _corr_oracle_sql() -> str:
    """DuckDB replica of ``profiling.column_correlations`` over the
    four lineitem measures: exact decimal Σx/Σx²/Σxy (int128-backed
    DECIMAL(19,6) multiplies — the numeric_summary convention), then
    the same IEEE r = (nΣxy − ΣxΣy)/√((nΣx²−Σx²ᵗ)(nΣy²−Σyᵗ²)) with the
    zero-variance NULL guard and 6dp floor."""
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    short = {c: c.replace("l_", "") for c in cols}
    sums = ["count(*) AS n"]
    for c in cols:
        sums.append(f"sum({c}::DECIMAL(18,6))::DOUBLE AS s_{short[c]}")
        sums.append(
            f"sum(({c}::DECIMAL(19,6)) * ({c}::DECIMAL(19,6)))::DOUBLE AS ss_{short[c]}"
        )
    pairs = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sums.append(
                f"sum(({a}::DECIMAL(19,6)) * ({b}::DECIMAL(19,6)))::DOUBLE "
                f"AS p_{short[a]}_{short[b]}"
            )
            pairs.append((a, b))
    selects = []
    for a, b in pairs:
        sa, sb = short[a], short[b]
        vx = f"(n::DOUBLE * ss_{sa} - s_{sa} * s_{sa})"
        vy = f"(n::DOUBLE * ss_{sb} - s_{sb} * s_{sb})"
        selects.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, n,\n"
            f"  CASE WHEN n > 1 AND {vx} > 0 AND {vy} > 0 THEN\n"
            f"    floor(((n::DOUBLE * p_{sa}_{sb} - s_{sa} * s_{sb})\n"
            f"           / sqrt({vx} * {vy})) * 1000000) / 1000000\n"
            f"  END AS corr FROM m"
        )
    where = " AND ".join(f"{c} IS NOT NULL" for c in cols)
    return (
        "WITH m AS (SELECT " + ", ".join(sums) + f" FROM lineitem WHERE {where})\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY col_a, col_b"
    )


def _sq8_ann_oracle_sql(k: int = 5, factor: int = 3, pca_dims: int = 0) -> str:
    """Exact DuckDB replica of ``similarity.sq8_topk``: the int8
    quantization (round-half-away ``x*127/max_abs`` — exact-.5 doubles
    are binary-representable, so Spark's HALF_UP BigDecimal rounding
    and C ``round`` agree everywhere), the reconstructed-cosine coarse
    scan (sequential-fold dot products on both engines), the
    ``k*factor`` shortlist cut with id tie-break, and the
    full-precision rescore under the shared 6dp truncation. Every
    double is bit-identical cross-engine, so even the approximate
    stage's selections match exactly.

    ``pca_dims > 0`` runs the SAME pipeline over SEEDED-PCA-projected
    vectors instead of the raw embeddings (mean = lowest-id vector,
    components = the next ``pca_dims`` — the embedding_pca_project
    replica, UNtruncated): the composed preprocess → quantize → search
    serving path. Rescore cosine is computed in the projected space,
    exactly like the Spark side feeding ``pca_project`` output into
    ``sq8_topk``."""
    # PCA queries start PAST the seed ids (the mean projects to the
    # zero vector — no cosine direction); the raw path keeps ids < 10
    q_where = (
        f"vec_id >= {pca_dims + 1} AND vec_id < {pca_dims + 11}"
        if pca_dims
        else "vec_id < 10"
    )
    if pca_dims:
        base_ctes = f"""
        corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS rv FROM embeddings
        ), seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS rn, rv AS sv
            FROM (SELECT vec_id, rv FROM corpus ORDER BY vec_id LIMIT {pca_dims + 1})
        ), meanv AS (
            SELECT sv AS m FROM seeds WHERE rn = 0
        ), comps AS (
            SELECT rn - 1 AS j, sv AS cv FROM seeds WHERE rn >= 1
        ), projrows AS (
            SELECT c.vec_id, p.j,
                   list_dot_product(
                       list_transform(range(1, len(c.rv) + 1), i -> c.rv[i] - m.m[i]),
                       p.cv) AS z
            FROM corpus c, meanv m, comps p
        ), base AS (
            SELECT vec_id, list(z ORDER BY j) AS v,
                   list_aggregate(list_transform(list(z ORDER BY j), x -> abs(x)), 'max') AS max_abs
            FROM projrows GROUP BY vec_id
        )"""
    else:
        base_ctes = """
        base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v,
                   list_aggregate(list_transform(embedding::DOUBLE[], x -> abs(x)), 'max') AS max_abs
            FROM embeddings
        )"""
    return f"""
        WITH {base_ctes}, quant AS (
            SELECT vec_id AS c_id,
                   CASE WHEN max_abs > 0
                        THEN list_transform(v, x -> CAST(round(x * 127.0 / max_abs) AS INTEGER))
                        ELSE list_transform(v, x -> 0) END AS codes,
                   max_abs / 127.0 AS scale
            FROM base
        ), c AS (
            SELECT c_id, codes, scale,
                   scale * sqrt(list_dot_product(codes::DOUBLE[], codes::DOUBLE[])) AS c_norm
            FROM quant
        ), q AS (
            SELECT vec_id AS q_id, v AS q_vec,
                   sqrt(list_dot_product(v, v)) AS q_norm
            FROM base WHERE {q_where}
        ), approx AS (
            SELECT q.q_id AS query_id, c.c_id AS neighbor_id,
                   (list_dot_product(q.q_vec, c.codes::DOUBLE[]) * c.scale) /
                   (q.q_norm * c.c_norm) AS approx_cosine
            FROM c, q
            WHERE q.q_id <> c.c_id AND c.c_norm > 0
        ), shortlist AS (
            SELECT query_id, neighbor_id
            FROM (SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY approx_cosine DESC, neighbor_id) AS r
                  FROM approx)
            WHERE r <= {k * factor}
        ), rescored AS (
            SELECT s.query_id, s.neighbor_id,
                   floor((list_dot_product(qe.v, ce.v) /
                          (sqrt(list_dot_product(qe.v, qe.v)) *
                           sqrt(list_dot_product(ce.v, ce.v)))) * 1000000.0)
                       / 1000000.0 AS cosine
            FROM shortlist s
            JOIN base qe ON qe.vec_id = s.query_id
            JOIN base ce ON ce.vec_id = s.neighbor_id
        ), ranked AS (
            SELECT query_id, neighbor_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank,
                   cosine
            FROM rescored
        )
        SELECT query_id, neighbor_id, rank, cosine
        FROM ranked WHERE rank <= {k}
        ORDER BY query_id, rank
    """


def _emb_lsh_oracle_sql() -> str:
    """Exact DuckDB replica of the registered ``dedup_embedding_lsh``
    query: planted perturbed twins (vec_id % 10 == 0 → id+100000,
    component nudge 0.01·((i%5)−2)), sign-bit buckets under the same
    deterministic hyperplanes (inlined literals), same-bucket candidate
    pairs, exact-cosine verify at the threshold. Both engines compute
    identical buckets, so the output matches even where LSH recall < 1.
    """
    from aws_data_wrangler_spark.operators.similarity import _hyperplanes
    from aws_data_wrangler_spark.plans.queries import (
        EMB_LSH_PLANES,
        EMB_LSH_TABLES,
        EMB_LSH_THRESHOLD,
    )

    selects = []
    for t in range(EMB_LSH_TABLES):
        bits = []
        for i, plane in enumerate(_hyperplanes(64, EMB_LSH_PLANES, 42 + t)):
            lits = "[" + ",".join(repr(float(w)) for w in plane) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product(v, {lits}::DOUBLE[]) >= 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        selects.append(f"SELECT vec_id, {t} AS tbl, ({' + '.join(bits)}) AS bucket FROM corpus")
    buckets_sql = "\n            UNION ALL ".join(selects)
    return f"""
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            UNION ALL
            SELECT vec_id + 100000,
                   list_transform(range(1, 65),
                                  i -> embedding[i]::DOUBLE + 0.01 * ((i - 1) % 5 - 2))
            FROM embeddings WHERE vec_id % 10 = 0
        ), buckets AS (
            {buckets_sql}
        ), cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM buckets a JOIN buckets b
              ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        ), scored AS (
            SELECT id_a, id_b,
                   floor((list_dot_product(ca.v, cb.v) /
                          (sqrt(list_dot_product(ca.v, ca.v)) *
                           sqrt(list_dot_product(cb.v, cb.v)))) * 1000000.0) / 1000000.0
                       AS cosine
            FROM cand
            JOIN corpus ca ON ca.vec_id = cand.id_a
            JOIN corpus cb ON cb.vec_id = cand.id_b
        )
        SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {EMB_LSH_THRESHOLD}
        ORDER BY id_a, id_b
    """


def _semdedup_oracle_sql(num_seeds: int = 32, threshold: float = 0.95) -> str:
    """Exact DuckDB replica of the registered ``dedup_semdedup`` query:
    planted twins, seeded centroids (the ``num_seeds`` lowest-id
    vectors), argmax-cosine cell assignment, within-cell pair mining at
    ``threshold``, connected-component duplicate groups (recursive
    CTE), and the keep-farthest-from-centroid window. Ordering ties in
    the assignment use raw doubles — both engines run the same
    sequential dot products, the precedent the sign-bit LSH oracles
    already rely on; the emitted centroid_cos is 6dp floor-truncated."""
    return f"""
        WITH RECURSIVE corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            UNION ALL
            SELECT vec_id + 100000,
                   list_transform(range(1, 65),
                                  i -> embedding[i]::DOUBLE + 0.01 * ((i - 1) % 5 - 2))
            FROM embeddings WHERE vec_id % 10 = 0
        ), seeds AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
                   v AS cv
            FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT {num_seeds})
        ), scored AS (
            SELECT c.vec_id, s.cid, c.v,
                   list_dot_product(c.v, s.cv) /
                   (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s.cv, s.cv)))
                       AS ccos
            FROM corpus c, seeds s
        ), assigned AS (
            SELECT vec_id, cid AS cell, v,
                   floor(ccos * 1000000.0) / 1000000.0 AS centroid_cos
            FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                               ORDER BY ccos DESC, cid ASC) AS rn
                  FROM scored)
            WHERE rn = 1
        ), pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM assigned a JOIN assigned b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE floor((list_dot_product(a.v, b.v) /
                         (sqrt(list_dot_product(a.v, a.v)) *
                          sqrt(list_dot_product(b.v, b.v)))) * 1000000.0) / 1000000.0
                  >= {threshold}
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
            UNION
            SELECT id_a AS src, id_a AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_b AS dst FROM pairs
        ), reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst
            FROM reach r JOIN edges e ON r.dst = e.src
        ), labels AS (
            SELECT src AS vec_id, min(dst) AS group_id
            FROM reach GROUP BY src
        )
        SELECT a.vec_id, a.cell, a.centroid_cos, l.group_id,
               (row_number() OVER (PARTITION BY l.group_id
                                   ORDER BY a.centroid_cos ASC, a.vec_id ASC) = 1) AS keep
        FROM labels l JOIN assigned a ON a.vec_id = l.vec_id
        ORDER BY a.vec_id
    """


def _simhash_md5_oracle_sql(max_hamming: int = 3) -> str:
    """DuckDB replica of ``simhash_pairs(token_hash="md5")``.

    The 64 signature bits come from per-token md5 halves (hex chars
    9-16 → bits 0-31, chars 1-8 → bits 32-63 — the exact layout of
    ``simhash_signatures``); each bit is the sign of the ±1 vote sum.
    The Spark side's pigeonhole banding is exact (not probabilistic),
    so the oracle is simply the all-pairs hamming filter over the same
    signatures — trivial at oracle scale.
    """
    vote_terms = []
    bit_terms = []
    ham_terms = []
    for b in range(64):
        src = "h_lo" if b < 32 else "h_hi"
        vote_terms.append(
            f"sum(CASE WHEN (({src} >> {b % 32}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        )
        bit_terms.append(f"CASE WHEN v{b} > 0 THEN 1 ELSE 0 END AS b{b}")
        ham_terms.append(f"CASE WHEN a.b{b} != b.b{b} THEN 1 ELSE 0 END")
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
            FROM documents
        ), hashed AS (
            SELECT doc_id,
                   ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h_lo,
                   ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h_hi
            FROM toks WHERE length(tok) > 0
        ), votes AS (
            SELECT doc_id, {', '.join(vote_terms)}
            FROM hashed GROUP BY doc_id
        ), bits AS (
            SELECT doc_id, {', '.join(bit_terms)} FROM votes
        ), pairs AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ({' + '.join(ham_terms)}) AS ham
            FROM bits a JOIN bits b ON a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, CAST(ham AS INTEGER) AS hamming
        FROM pairs WHERE ham <= {max_hamming}
        ORDER BY id_a, id_b
    """


_NGRAM_JACCARD = """
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\\s+') AS t
        FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
        FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
              FROM toks WHERE len(t) >= 3)
    ), sizes AS (
        SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
    ), common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), scored AS (
        SELECT id_a, id_b,
               floor((common / (sa.set_size + sb.set_size - common)) * 1000000.0) / 1000000.0 AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {threshold}
    ORDER BY id_a, id_b
"""

_QUALITY_EXPRS = """
        length(text)::DOUBLE AS n_chars,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END::DOUBLE AS tokens,
        (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))::DOUBLE AS punct,
        len(regexp_extract_all(lower(text),
            '\\b(the|a|an|and|or|of|to|in|is|it)\\b'))::DOUBLE AS stops
"""

_LANG_SCORES = """
        len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist|nicht)\\b')) AS score_de,
        len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is|that)\\b')) AS score_en,
        len(regexp_extract_all(lower(text), '\\b(el|la|los|las|es|que)\\b')) AS score_es,
        len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est|que)\\b')) AS score_fr,
        len(regexp_extract_all(lower(text), '\\b(的|是|了|在|我)\\b')) AS score_zh
"""

# argmax of _LANG_SCORES, ties to the alphabetically-first language;
# NULL text (NULL scores) guesses NULL
_LANG_PRED = """
        CASE WHEN score_de IS NULL THEN NULL
             WHEN score_de >= score_en AND score_de >= score_es
                  AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
             WHEN score_en >= score_es AND score_en >= score_fr
                  AND score_en >= score_zh THEN 'en'
             WHEN score_es >= score_fr AND score_es >= score_zh THEN 'es'
             WHEN score_fr >= score_zh THEN 'fr'
             ELSE 'zh' END"""

# the heuristic quality score over _QUALITY_EXPRS; least() skips NULLs,
# so NULL text needs the explicit guard to score NULL
_QUALITY_SCORE = """
        CASE WHEN n_chars IS NOT NULL THEN
            floor((0.4 * least(n_chars / 500.0, 1.0)
                   + 0.3 * least(CASE WHEN tokens > 0 THEN stops / tokens
                                      ELSE 0.0 END * 5.0, 1.0)
                   + 0.3 * (1.0 - least(CASE WHEN n_chars > 0 THEN punct / n_chars
                                             ELSE 0.0 END * 10.0, 1.0)))
                  * 1000000.0) / 1000000.0
        END"""

# stratified sampling: same md5-prefix-vs-hex-threshold coin flip as
# operators/sampling.py (thresholds generated from the same fractions)
_SAMPLE_KEEP = (
    "substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < CASE source "
    + " ".join(
        f"WHEN '{value}' THEN '{_threshold_hex(frac)}'"
        for value, frac in sorted(SAMPLE_FRACTIONS.items())
    )
    + f" ELSE '{_threshold_hex(SAMPLE_DEFAULT)}' END"
)

# synthetic-PII planting — mirrors queries._with_planted_pii verbatim
_PLANTED_PII = """
    SELECT doc_id,
           text || ' reach user' || CAST(doc_id AS VARCHAR)
                || '@example.com or 555-'
                || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
    FROM documents
"""

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
_PII_IP = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
_PII_REDACTED = (
    "regexp_replace(regexp_replace(regexp_replace(t, "
    f"'{_PII_EMAIL}', '[EMAIL]', 'g'), "
    f"'{_PII_PHONE}', '[PHONE]', 'g'), "
    f"'{_PII_IP}', '[IP]', 'g')"
)

# 5-gram shingles (distinct per doc) — same window as dedup.word_shingles
_SHINGLE5 = """
    SELECT DISTINCT doc_id,
           tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] AS shingle
    FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
          FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tk
                FROM documents {where})
          WHERE len(tk) >= 5)
"""

def _hex_to_bigint_sql(expr: str, nchars: int, cast: str = "BIGINT") -> str:
    """SQL folding the first ``nchars`` lowercase-hex chars of ``expr``
    into an integer (big-endian) — DuckDB has no strtol, so the digits
    fold explicitly; the per-digit weights are exact integer literals."""
    terms = [
        f"(strpos('0123456789abcdef', substr({expr}, {i + 1}, 1)) - 1)::{cast}"
        f" * {16 ** (nchars - 1 - i)}::{cast}"
        for i in range(nchars)
    ]
    return "(" + " + ".join(terms) + ")"


# shared by the batch gate and its streaming twin — the availableNow
# replay IS the batch gate, so one key-existence replica serves both
_BLOOM_GATE_ORACLE = """
        SELECT b.doc_id AS doc_id, (c.text IS NOT NULL) AS is_dup
        FROM (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0) b
        LEFT JOIN (SELECT DISTINCT text FROM documents WHERE doc_id % 5 <> 0) c
          ON b.text = c.text
        ORDER BY doc_id
"""



# char-entropy CTE chain, shared by the standalone entropy oracle and
# the composed quality gate: sorted-distinct-characters loop, left fold
# (list_prepend(0.0) + list_reduce ≡ Spark aggregate with 0.0 init) —
# ASCII corpus so binary collation sorts identically. Ends with `ent`:
# (doc_id, char_entropy).
_ENTROPY_CTES = """chars AS (
            SELECT doc_id, list_filter(string_split(text, ''), x -> x <> '') AS cs
            FROM documents
        ), counted AS (
            SELECT doc_id, len(cs)::DOUBLE AS n,
                   list_transform(list_sort(list_distinct(cs)),
                                  c -> len(list_filter(cs, x -> x = c))::DOUBLE) AS ks
            FROM chars
        ), ent AS (
            SELECT doc_id,
                   CASE WHEN n > 0 THEN
                       floor(((ln(n) - list_reduce(
                                   list_prepend(CAST(0.0 AS DOUBLE),
                                                list_transform(ks, k -> k * ln(k))),
                                   (a, b) -> a + b) / n) / ln(2.0)) * 1000000)
                           / 1000000
                   ELSE 0.0 END AS char_entropy
            FROM counted
        )"""

# classifier-inference CTE chain, shared by the standalone score oracle
# and the composed quality gate: md5-prefix feature hash (the simhash
# convention), within-doc DISTINCT features, EXACT dyadic margin sums
# (k/1024 − 1/2), sigmoid + 6dp floor. Ends with `probs`:
# (doc_id, quality_prob).
_CLASSIFIER_CTES = """toksc AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
            FROM documents
        ), cfeats AS (
            SELECT DISTINCT doc_id,
                   ('0x' || substr(md5(tok), 1, 15))::BIGINT % 512 AS feature
            FROM (SELECT doc_id, unnest(t) AS tok FROM toksc)
        ), margins AS (
            SELECT doc_id,
                   sum(((feature * 2654435761) % 1024) / 1024.0 - 0.5) AS margin
            FROM cfeats GROUP BY doc_id
        ), probs AS (
            SELECT d.doc_id,
                   floor((1.0 / (1.0 + exp(-(coalesce(m.margin, 0.0) + 0.0))))
                         * 1000000) / 1000000 AS quality_prob
            FROM documents d LEFT JOIN margins m USING (doc_id)
        )"""

# EWMA fold replica, shared verbatim by the batch smoother and the
# streaming monitor (the monitor folds the SAME counts with the SAME
# shared ewma_from_counts, so replay ≡ batch by construction):
# list_reduce folds left with the FIRST element as init — exactly
# Spark's aggregate(slice(vals, 2, n-1), element_at(vals, 1), ...);
# alpha = 0.25 and 1-alpha = 0.75 are exactly representable so the
# IEEE chain is bit-identical
_EWMA_SQL = """
        WITH counts AS (
            SELECT event_type AS key, date_trunc('hour', ts) AS bucket_ts,
                   count(*)::DOUBLE AS n
            FROM events GROUP BY 1, 2
        ), packed AS (
            SELECT key, count(*) AS n_buckets,
                   strftime(max(bucket_ts), '%Y-%m-%d %H:%M:%S') AS last_bucket_ts,
                   list(n ORDER BY bucket_ts) AS vals
            FROM counts GROUP BY key
        )
        SELECT key AS event_type, n_buckets, last_bucket_ts,
               floor(list_reduce(vals, (acc, x) -> acc*0.75 + x*0.25) * 1000000)
                   / 1000000 AS ewma
        FROM packed ORDER BY event_type
    """


# Holt-Winters additive seasonal fold replica (r11): the holt fold
# extended to a (3 + 24)-element ARRAY state [l, b, t, s_0..s_23] over
# the SPINE-DENSIFIED hourly counts (empty buckets are zeros; the
# seasonal slot is fold position mod 24, computed from the t counter
# carried in the state). list_transform's indexed lambda replaces the
# touched slot; every expanded coefficient at α=β=γ=0.25 is dyadic, so
# the chain exact-matches Spark's F.aggregate term-for-term. NOT
# factored out of events_holt_trend: that literal backs a prior-round
# frozen row (byte-identity outranks DRY; the shared-fragment rule
# applies to NEW siblings — and this literal is exactly that, shared
# by the batch row and the streaming monitor).
_HOLT_WINTERS_SQL = """
        WITH counts AS (
            SELECT event_type AS key, date_trunc('hour', ts) AS bucket_ts,
                   count(*)::BIGINT AS n
            FROM events GROUP BY 1, 2
        ), bounds AS (
            SELECT key, min(bucket_ts) AS mn, max(bucket_ts) AS mx
            FROM counts GROUP BY key
        ), spine AS (
            SELECT key, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket_ts
            FROM bounds
        ), dense AS (
            SELECT s.key, s.bucket_ts, coalesce(c.n, 0)::DOUBLE AS n
            FROM spine s LEFT JOIN counts c
            ON s.key = c.key AND s.bucket_ts = c.bucket_ts
        ), packed AS (
            SELECT key, count(*) AS n_buckets,
                   strftime(max(bucket_ts), '%Y-%m-%d %H:%M:%S') AS last_bucket_ts,
                   list(n ORDER BY bucket_ts) AS vals
            FROM dense GROUP BY key
        ), folded AS (
            SELECT key, n_buckets, last_bucket_ts,
                   list_reduce(
                       list_transform(vals, v -> list_concat(
                           [v, 0.0::DOUBLE, 1.0::DOUBLE],
                           list_transform(range(24), z -> 0.0::DOUBLE)
                       )),
                       (acc, x) -> list_concat(
                           [
                               (x[1] - acc[4 + (CAST(acc[3] AS INTEGER) % 24)]) * 0.25::DOUBLE
                                   + (acc[1] + acc[2]) * 0.75::DOUBLE,
                               (x[1] - acc[4 + (CAST(acc[3] AS INTEGER) % 24)] - acc[1]) * 0.0625::DOUBLE
                                   + acc[2] * 0.9375::DOUBLE,
                               acc[3] + 1.0::DOUBLE
                           ],
                           list_transform(acc[4:], (s, i) ->
                               CASE WHEN i - 1 = (CAST(acc[3] AS INTEGER) % 24)
                                    THEN (x[1] - acc[1] - acc[2]) * 0.1875::DOUBLE
                                         + s * 0.8125::DOUBLE
                                    ELSE s END)
                       )
                   ) AS st
            FROM packed
        )
        SELECT key AS event_type, n_buckets, last_bucket_ts,
               floor(st[1] * 1000000) / 1000000 AS level,
               floor(st[2] * 1000000) / 1000000 AS trend,
               floor((st[1] + st[2] + st[4 + (CAST(st[3] AS INTEGER) % 24)]) * 1000000)
                   / 1000000 AS forecast_next,
               floor((list_max(st[4:]) - list_min(st[4:])) * 1000000)
                   / 1000000 AS season_range
        FROM folded ORDER BY event_type
"""

def _quality_gate_sql(extra_ctes: str, join_src: str, stratum: str) -> str:
    """The composed quality-gate chain (shared _QUALITY_EXPRS /
    _ENTROPY_CTES / _CLASSIFIER_CTES fragments → per-doc keep flag →
    stratum rollup), parameterized ONLY by the stratum source — shared
    by ``text_quality_gate`` (stratum = source, straight off
    documents) and ``text_domain_quality`` (stratum = registered
    domain off the ``_CANON_URL_CTES`` output), so the two rollups are
    equal by construction."""
    return f"""
        WITH {extra_ctes}feats AS (
            SELECT doc_id, {_QUALITY_EXPRS}
            FROM documents
        ), q AS (
            SELECT doc_id, {_QUALITY_SCORE} AS quality_score
            FROM feats
        ), {_ENTROPY_CTES}, {_CLASSIFIER_CTES}, flagged AS (
            SELECT q.doc_id, q.quality_score,
                   (q.quality_score >= 0.55 AND e.char_entropy >= 4.05
                    AND p.quality_prob >= 0.6) AS keep
            FROM q JOIN ent e USING (doc_id) JOIN probs p USING (doc_id)
        ), rolled AS (
            SELECT s.{stratum}, count(*) AS n_docs,
                   coalesce(sum(CASE WHEN f.keep THEN 1 END), 0)::BIGINT AS n_kept,
                   sum(CASE WHEN f.keep THEN f.quality_score::DECIMAL(18,6) END) AS kept_sum
            FROM flagged f JOIN {join_src} s USING (doc_id)
            GROUP BY s.{stratum}
        )
        SELECT {stratum}, n_docs, n_kept,
               floor((n_kept::DOUBLE / n_docs) * 1000000) / 1000000 AS kept_frac,
               CASE WHEN n_kept > 0 THEN
                   floor((kept_sum::DOUBLE / n_kept) * 1000000) / 1000000
               END AS avg_kept_quality
        FROM rolled ORDER BY {stratum}
    """


# synthesized-messy-URL canonicalization chain (doc_id % 5 picks one
# of five messy variants per document), shared by the
# text_domain_rollup rollup and the sample_domain_temperature mixing
# weld (the _ENTROPY_CTES discipline — one fragment owns the
# synthesis + regex chain, so the welds are equal to the standalone
# row BY CONSTRUCTION). Ends with `named`: (doc_id, canonical_url,
# registered_domain). Every regexp is anchored or single-match, so
# DuckDB's non-global regexp_replace matches Spark's global one.
# The registered-domain CASE embeds the vendored public-suffix
# alternation VERBATIM from _psl.PSL2_REGEX (one source of truth with
# the Spark operator); the doc_id % 10 = 7 host exercises it
# (news.<source>.co.uk must stratify to <source>.co.uk, not co.uk).
_CANON_URL_CTES = f"""h AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 7 THEN 'news.' || source || '.co.uk'
                        WHEN doc_id % 2 = 0 THEN source || '.com'
                        ELSE 'blog.' || source || '.org' END AS host
            FROM documents
        ), u AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 5 IN (1, 3) THEN 'HTTP://' ELSE 'https://' END ||
                   CASE WHEN doc_id % 5 IN (0, 3) THEN 'www.' ELSE '' END ||
                   CASE WHEN doc_id % 5 = 1 THEN upper(host) ELSE host END ||
                   CASE WHEN doc_id % 5 = 2 THEN ':443'
                        WHEN doc_id % 5 = 3 THEN ':80' ELSE '' END ||
                   '/articles/' || CAST(doc_id % 50 AS VARCHAR) ||
                   CASE WHEN doc_id % 5 = 4 THEN '/' ELSE '' END ||
                   CASE WHEN doc_id % 5 = 2
                        THEN '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
                        ELSE '' END ||
                   CASE WHEN doc_id % 5 = 3 THEN '#sec' ELSE '' END AS url
            FROM h
        ), st AS (
            SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(trim(url),
                       '#.*', ''), '\\?.*', ''),
                       '^[a-zA-Z][a-zA-Z0-9+.\\-]*://', '') AS rem
            FROM u
        ), parts AS (
            SELECT doc_id,
                   regexp_replace(regexp_replace(
                       lower(regexp_extract(rem, '^([^/]*)', 1)),
                       '^www\\.', ''), ':(80|443)$', '') AS host,
                   regexp_replace(regexp_replace(rem, '^[^/]*', ''),
                       '/+$', '') AS rest
            FROM st
        ), canon AS (
            SELECT doc_id, host || rest AS canonical_url,
                   regexp_replace(host, ':[0-9]+$', '') AS dom
            FROM parts
        ), named AS (
            SELECT doc_id, canonical_url,
                   CASE WHEN regexp_extract(dom, '{PSL2_REGEX}', 1) <> ''
                        THEN regexp_extract(dom, '{PSL2_REGEX}', 1)
                        WHEN regexp_extract(dom, '([^.]+\\.[^.]+)$', 1) = ''
                        THEN dom
                        ELSE regexp_extract(dom, '([^.]+\\.[^.]+)$', 1)
                   END AS registered_domain
            FROM canon
        )"""

ORACLES: Dict[str, str] = {
    # ---- analytics: identical SQL, second engine -----------------------
    **ANALYTICS_SQL,
    "events_json_extract": """
        SELECT event_type,
               round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS avg_k,
               round(sum(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS sum_k,
               count(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "text_ngram_freq": """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ), grams AS (
            SELECT t[i] || ' ' || t[i+1] AS bigram
            FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
                  FROM toks WHERE len(t) >= 2)
        )
        SELECT bigram, count(*) AS freq
        FROM grams
        GROUP BY bigram
        ORDER BY freq DESC, bigram
        LIMIT 100
    """,
    # session_window gap semantics: window end is exclusive (= last event
    # + gap), so an event exactly `gap` later starts a NEW session → the
    # lag-based oracle flags new_sess on diff_us >= gap_us (µs-exact)
    "events_session_window": """
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, ts,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
            FROM flagged
        )
        SELECT user_id,
               epoch_us(min(ts)) AS session_start_us,
               epoch_us(max(ts)) AS session_end_us,
               count(*) AS n_events
        FROM numbered
        GROUP BY user_id, sess_id
        ORDER BY user_id, session_start_us
    """,
    # ---- IO round-trips: expected == direct SQL on the source ----------
    "io_parquet_roundtrip": """
        SELECT l_returnflag, count(*) AS n_rows,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "io_overwrite_partitions": """
        SELECT l_returnflag,
               round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity * 2
                              ELSE l_quantity END), 2) AS sum_qty,
               count(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "io_csv_roundtrip": """
        SELECT o_orderstatus, count(*) AS n_rows,
               round(sum(o_totalprice), 2) AS sum_total,
               strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "io_merge_datasets": """
        SELECT l_linestatus, count(*) AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
    """,
    "io_partition_pruned_read": """
        SELECT o_orderpriority, count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS sum_total
        FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    "io_json_roundtrip": """
        SELECT n_regionkey, count(*) AS n_nations
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    "io_fwf_roundtrip": """
        SELECT n_regionkey, count(*) AS n_nations, min(n_name) AS first_name
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    "catalog_table_roundtrip": """
        SELECT s_nationkey, count(*) AS n_suppliers,
               round(sum(s_acctbal), 2) AS sum_bal
        FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey
    """,
    "db_copy_unload_roundtrip": """
        SELECT CAST(n_regionkey AS INTEGER) AS n_regionkey,
               count(*) AS n_nations, min(n_name) AS first_name
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
    """,
    "athena_ctas_roundtrip": """
        SELECT p_brand, count(*) AS n_parts,
               round(avg(p_retailprice), 4) AS avg_price
        FROM part GROUP BY p_brand ORDER BY p_brand
    """,
    "db_jdbc_roundtrip": """
        SELECT l_returnflag, l_linestatus, count(*) AS n_items,
               CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        FROM lineitem GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "io_bucketed_join": """
        SELECT o_orderstatus, count(*) AS n_items,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
    "logs_insights_parse": """
        SELECT event_type, count(*) AS n,
               round(sum(CAST(regexp_extract(props, '"k": ([0-9.]+)', 1) AS DOUBLE)), 4) AS sum_k
        FROM events
        WHERE regexp_extract(props, '"k": ([0-9.]+)', 1) <> ''
        GROUP BY event_type ORDER BY event_type
    """,
    # flagship curation pipeline: quality + lang filter + normalized
    # dedup (keep min doc_id) + per-source rollup — mirrors the Spark
    # operator composition stage for stage
    "corpus_curation_pipeline": f"""
        WITH feats AS (
            SELECT doc_id, lang, source, text, {_QUALITY_EXPRS}
            FROM documents
        ), scored AS (
            SELECT doc_id, lang, source, text,
                   CAST(tokens AS BIGINT) AS ws_tokens,
                   {_QUALITY_SCORE} AS quality_score,
                   {_LANG_SCORES}
            FROM feats
        ), kept AS (
            SELECT doc_id, source, text, ws_tokens, quality_score
            FROM scored
            WHERE quality_score >= 0.5 AND lang = {_LANG_PRED}
        ), deduped AS (
            SELECT *, min(doc_id) OVER (
                PARTITION BY md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))
            ) AS keep_id
            FROM kept
        )
        SELECT source, count(*) AS n_docs,
               round(sum(quality_score), 6) AS sum_quality,
               CAST(sum(ws_tokens) AS BIGINT) AS total_tokens
        FROM deduped
        WHERE doc_id = keep_id
        GROUP BY source
        ORDER BY source
    """,
    # ---- dedup ---------------------------------------------------------
    "dedup_exact": """
        SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
               count(*) AS dup_cnt
        FROM documents GROUP BY md5(text) ORDER BY content_hash
    """,
    "dedup_normalized": """
        SELECT md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS content_hash,
               min(doc_id) AS keep_id, count(*) AS dup_cnt
        FROM documents
        GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))
        ORDER BY content_hash
    """,
    # FK profiler: null keys counted separately from orphans (a join
    # drops nulls silently — the trap the profiler surfaces); the
    # share is a division of exact ints, truncated
    "profiling_referential_integrity": """
        WITH damaged AS (
            SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                        WHEN o_orderkey % 89 = 0 THEN o_custkey + 10000000
                        ELSE o_custkey END AS k
            FROM orders
        ), flagged AS (
            SELECT (k IS NULL) AS is_null,
                   (k IS NOT NULL AND c.c_custkey IS NULL) AS is_orphan
            FROM damaged d
            LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
              ON d.k = c.c_custkey
        )
        SELECT count(*) AS n_child,
               CAST(sum(CASE WHEN is_orphan THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
               CAST(sum(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT) AS n_null_keys,
               floor(sum(CASE WHEN is_orphan THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE) * 1000000.0) / 1000000.0
                   AS orphan_share
        FROM flagged
    """,
    # ingest pre-flight report: dedup counts (key-existence), then the
    # shared PSI replica per section — every value a count or a
    # per-bucket term, no cross-bucket float sums
    "ingest_preflight_report": ("""
        WITH corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
             batch AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
             counts AS (
                 SELECT count(*) AS n_batch,
                        sum(CASE WHEN c.text IS NOT NULL THEN 1 ELSE 0 END) AS n_dup
                 FROM batch b
                 LEFT JOIN (SELECT DISTINCT text FROM corpus) c ON b.text = c.text
             ),
             prof AS (
                 SELECT 'drift_lang' AS section,
                        coalesce(CAST(lang AS VARCHAR), '__null__') AS bucket,
                        TRUE AS is_base FROM corpus
                 UNION ALL
                 SELECT 'drift_lang', coalesce(CAST(lang AS VARCHAR), '__null__'),
                        FALSE FROM batch
                 UNION ALL
                 SELECT 'drift_len',
                        CASE WHEN n_chars IS NULL THEN '__null__'
                             ELSE CAST((__LEN_BUCKET__) AS VARCHAR) END,
                        TRUE FROM corpus
                 UNION ALL
                 SELECT 'drift_len',
                        CASE WHEN n_chars IS NULL THEN '__null__'
                             ELSE CAST((__LEN_BUCKET__) AS VARCHAR) END,
                        FALSE FROM batch
             ),
             cnt AS (
                 SELECT section, bucket,
                        sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS n_base,
                        sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS n_cur
                 FROM prof GROUP BY section, bucket
             ),
             tot AS (
                 SELECT *, sum(n_base) OVER (PARTITION BY section) AS tb,
                           sum(n_cur) OVER (PARTITION BY section) AS tc
                 FROM cnt
             ),
             drift AS (
                 SELECT section, bucket AS name,
                        floor((greatest(n_base::DOUBLE / tb, 1e-6) -
                               greatest(n_cur::DOUBLE / tc, 1e-6)) *
                              ln(greatest(n_base::DOUBLE / tb, 1e-6) /
                                 greatest(n_cur::DOUBLE / tc, 1e-6)) * 1000000.0)
                            / 1000000.0 AS value
                 FROM tot
             ),
             ded AS (
                 SELECT 'dedup' AS section, 'n_batch' AS name,
                        CAST(n_batch AS DOUBLE) AS value FROM counts
                 UNION ALL SELECT 'dedup', 'n_dup', CAST(n_dup AS DOUBLE) FROM counts
                 UNION ALL SELECT 'dedup', 'n_novel',
                        CAST(n_batch - n_dup AS DOUBLE) FROM counts
             )
        SELECT section, name, value FROM ded
        UNION ALL SELECT section, name, value FROM drift
        ORDER BY section, name
    """).replace(
        "__LEN_BUCKET__",
        " + ".join(
            f"(CASE WHEN n_chars >= {2 ** k}.0 THEN 1 ELSE 0 END)"
            for k in range(4, 13)
        ),
    ),
    # PK uniqueness: per-key multiplicity table then one aggregate —
    # all counts exact ints
    "profiling_key_uniqueness": """
        WITH damaged AS (
            SELECT l_orderkey,
                   CASE WHEN l_orderkey % 101 = 0 THEN 1
                        ELSE l_linenumber END AS l_linenumber
            FROM lineitem
        ), per_key AS (
            SELECT l_orderkey, l_linenumber, count(*) AS m
            FROM damaged GROUP BY l_orderkey, l_linenumber
        )
        SELECT CAST(sum(m) AS BIGINT) AS n_rows,
               count(*) AS n_keys,
               CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
               CAST(sum(CASE WHEN m > 1 THEN m ELSE 0 END) AS BIGINT) AS n_dup_rows,
               CAST(max(m) AS BIGINT) AS max_multiplicity
        FROM per_key
    """,
    # MAD anomalies: exact quantile_cont == Spark percentile (R-7);
    # the score is truncated BEFORE the threshold in both engines
    # linear-interpolation replica: same grid-stable bucket avg, same
    # carry-forward/carry-back neighbor windows (IGNORE NULLS), same
    # IEEE interpolation over epoch seconds; leading/trailing gaps NULL
    "events_interpolate": """
        WITH src AS (
            SELECT event_type AS key, date_trunc('hour', ts) AS b, value
            FROM events WHERE event_id % 7 = 0
        ), rollup AS (
            SELECT key, b, count(*) AS n_events,
                   round(round(sum(value), 2) / count(*), 6) AS avg_value
            FROM src GROUP BY key, b
        ), bounds AS (
            SELECT key, min(b) AS mn, max(b) AS mx FROM rollup GROUP BY key
        ), spine AS (
            SELECT key, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS b
            FROM bounds
        ), joined AS (
            SELECT s.key, s.b, r.n_events, r.avg_value, epoch(s.b)::DOUBLE AS t
            FROM spine s LEFT JOIN rollup r USING (key, b)
        ), w AS (
            SELECT *,
                last_value(avg_value IGNORE NULLS) OVER
                    (PARTITION BY key ORDER BY b
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
                first_value(avg_value IGNORE NULLS) OVER
                    (PARTITION BY key ORDER BY b
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
                last_value(CASE WHEN avg_value IS NOT NULL THEN t END IGNORE NULLS)
                    OVER (PARTITION BY key ORDER BY b
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
                first_value(CASE WHEN avg_value IS NOT NULL THEN t END IGNORE NULLS)
                    OVER (PARTITION BY key ORDER BY b
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
            FROM joined
        )
        SELECT key AS event_type, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
               coalesce(n_events, 0)::BIGINT AS n_events,
               floor((CASE WHEN avg_value IS NOT NULL THEN avg_value
                      ELSE prev_v + (t - prev_t) / (next_t - prev_t)
                               * (next_v - prev_v) END) * 1000000) / 1000000
                   AS interp_avg
        FROM w ORDER BY event_type, bucket_ts
    """,
    "streaming_ewma_monitor": _EWMA_SQL,
    # the streaming gate's availableNow replay == the batch gate: the
    # probe is a stateless projection and the confirm a stream-static
    # join, so the batch key-existence replica applies verbatim
    "streaming_bloom_gate": _BLOOM_GATE_ORACLE,
    # offline-trained centers (even half) scoring the streamed odd
    # half: the availableNow replay == the batch scorer over the same
    # counts, so the replica trains/scores the two halves directly
    "streaming_anomaly_monitor": """
        WITH hist AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                   count(*) AS n
            FROM events WHERE event_id % 2 = 0 GROUP BY 1, 2
        ), cur AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                   count(*) AS n
            FROM events WHERE event_id % 2 = 1 GROUP BY 1, 2
        ), med AS (
            SELECT event_type, quantile_cont(n, 0.5) AS med
            FROM hist GROUP BY event_type
        ), mad AS (
            SELECT h.event_type, quantile_cont(abs(h.n - m.med), 0.5) AS mad
            FROM hist h JOIN med m USING (event_type)
            GROUP BY h.event_type
        ), scored AS (
            SELECT c.event_type,
                   strftime(c.bucket_ts, '%Y-%m-%d %H:00:00') AS hour_ts,
                   c.n, m.med, d.mad,
                   floor(abs(0.6745 * (c.n - m.med) / d.mad) * 1000000.0)
                       / 1000000.0 AS score
            FROM cur c
            JOIN med m USING (event_type)
            JOIN mad d USING (event_type)
            WHERE d.mad > 0
        )
        SELECT * FROM scored WHERE score > 0.5
        ORDER BY event_type, hour_ts
    """,
    # filtered search on the COMPRESSED tier: the label predicate
    # restricts ADC candidate pairs only — training/assignment/probing
    # see the full corpus, the vector-DB filtered-search contract
    "ann_filtered_pq_search": _ivfpq_ann_oracle_sql(cand_where="a.label < 4"),
    # schema evolution: a mergeSchema read of old-schema + new-schema
    # files == the explicit union with NULLs for the missing column
    # batch UPSERT replica: the final snapshot is the per-key argmax of
    # order_col over the unioned batches (row_number DESC — exactly the
    # merge_upsert_batch window). price*2 is an exact power-of-two
    # product and round-at-the-2dp-grid is engine-stable
    "io_upsert_roundtrip": """
        WITH base AS (
            SELECT o_orderkey AS k, CAST(1 AS BIGINT) AS ts,
                   o_totalprice AS price, o_orderstatus AS status
            FROM orders WHERE o_orderkey % 8 = 0
        ), updates AS (
            SELECT k, CAST(2 AS BIGINT), price * 2, 'U' FROM base WHERE k % 3 = 0
        ), stale AS (
            SELECT k, CAST(0 AS BIGINT), -1.0, 'S' FROM base WHERE k % 5 = 0
        ), unioned AS (
            SELECT * FROM base
            UNION ALL SELECT * FROM updates
            UNION ALL SELECT * FROM stale
        ), ranked AS (
            SELECT *, row_number() OVER (PARTITION BY k ORDER BY ts DESC) AS rn
            FROM unioned
        )
        SELECT k, ts, round(price, 2) AS price, status
        FROM ranked WHERE rn = 1 ORDER BY k
    """,
    "io_schema_evolution": """
        SELECT doc_id, source, CAST(NULL AS VARCHAR) AS lang
        FROM documents WHERE doc_id % 2 = 0
        UNION ALL
        SELECT doc_id, source, lang FROM documents WHERE doc_id % 2 = 1
        ORDER BY doc_id
    """,
    # per-dimension moments: the variance replicates Spark's moment
    # form sum(x²)/n − mean² term-for-term; float32→double is exact in
    # both engines, min/max are comparisons
    "embedding_dim_stats": """
        WITH x AS (
            SELECT generate_subscripts(embedding, 1) AS dim,
                   unnest(embedding)::DOUBLE AS v
            FROM embeddings
        )
        SELECT CAST(dim AS INTEGER) AS dim, count(*) AS n,
               floor(sum(v) / count(*) * 1000000.0) / 1000000.0 AS mean,
               floor((sum(v * v) / count(*) -
                      (sum(v) / count(*)) * (sum(v) / count(*))) * 1000000.0)
                   / 1000000.0 AS var_pop,
               min(v) AS min_val, max(v) AS max_val
        FROM x GROUP BY dim ORDER BY dim
    """,
    # snapshot diff: md5 content identity on the Spark side == direct
    # text comparison here (IS DISTINCT FROM replicates the NULL-tagged
    # hash semantics); unchanged rows excluded by contract
    "dedup_snapshot_diff": """
        WITH old AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0
        ), new AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 11 = 0 THEN text || '!' ELSE text END AS text
            FROM documents WHERE doc_id % 5 <> 0
        )
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    ELSE 'changed' END AS change
        FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
        WHERE o.doc_id IS NULL OR n.doc_id IS NULL
           OR (o.text IS DISTINCT FROM n.text)
        ORDER BY doc_id
    """,
    # the Bloom gate's verdict is EXACT (prefilter + confirm join), so
    # the replica never models the filter — just key existence
    "dedup_bloom_ingest_gate": _BLOOM_GATE_ORACLE,
    "dedup_ngram_jaccard": _NGRAM_JACCARD.format(threshold=0.5),
    # MinHash-LSH verifies candidates with exact Jaccard; at 16 bands /
    # 4 rows the capture probability at j≥0.8 is 1-(1-0.41)^16 ≈ 0.9998
    # (and 1.0 for exact duplicates), so the output equals the
    # exact-Jaccard miner at the same threshold on this data.
    "dedup_minhash_lsh": _NGRAM_JACCARD.format(threshold=0.8),
    # incremental (batch-vs-corpus) dedup: same exact-Jaccard
    # equivalence as dedup_minhash_lsh, restricted to pairs that cross
    # the doc_id%5 split (batch side = %5==0); LSH capture at j≥0.8 is
    # ~1 at 16 bands × 3 rows, so the bipartite LSH+verify output
    # equals the exact bipartite miner on this data
    "dedup_incremental": """
        WITH toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
                  FROM toks WHERE len(t) >= 3)
        ), sizes AS (
            SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS new_id, b.doc_id AS corpus_id, count(*) AS common
            FROM sh a JOIN sh b ON a.shingle = b.shingle
            WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0
            GROUP BY 1, 2
        ), scored AS (
            SELECT new_id, corpus_id,
                   floor((common / (sa.set_size + sb.set_size - common)) * 1000000.0) / 1000000.0 AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = new_id
            JOIN sizes sb ON sb.doc_id = corpus_id
        )
        SELECT new_id, corpus_id, jaccard FROM scored WHERE jaccard >= 0.8
        ORDER BY new_id, corpus_id
    """,
    # as-of join oracle: DuckDB's native ASOF JOIN (right.ts <= left.ts,
    # most recent wins); right side pre-deduped per (user, ts)
    "events_asof_signup": """
        WITH clicks AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
        ), signups AS (
            SELECT user_id, ts, max(event_id) AS signup_event_id
            FROM events WHERE event_type = 'signup'
            GROUP BY user_id, ts
        )
        SELECT c.event_id, c.user_id,
               epoch_us(c.ts) AS click_ts_us,
               epoch_us(s.ts) AS signup_ts_us,
               s.signup_event_id
        FROM clicks c
        ASOF JOIN signups s
          ON c.user_id = s.user_id AND c.ts >= s.ts
        ORDER BY c.event_id
    """,
    # interval join oracle: plain inequality join (fine at oracle scale)
    "events_error_click_window": """
        SELECT e.event_id AS error_id, c.event_id AS click_id
        FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
        JOIN (SELECT event_id, ts FROM events WHERE event_type = 'click') c
          ON epoch_us(c.ts) >= epoch_us(e.ts)
         AND epoch_us(c.ts) < epoch_us(e.ts) + 3600000000
        ORDER BY error_id, click_id
    """,
    # connected components over the near-dup pair graph via recursive
    # CTE (pair sets are tiny); cluster_id = min reachable doc id
    "dedup_clusters": f"""
        WITH RECURSIVE pairs AS (
            {_NGRAM_JACCARD.format(threshold=0.8).replace("ORDER BY id_a, id_b", "")}
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
            UNION
            SELECT id_a AS src, id_a AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_b AS dst FROM pairs
        ), reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst
            FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT src AS doc_id, min(dst) AS cluster_id
        FROM reach
        GROUP BY src
        ORDER BY doc_id
    """,
    # exact substring-span dedup: positioned 5-grams, cross-doc df ≥ 2,
    # interval merge via running-max window — mirrored stage for stage
    "dedup_duplicated_spans": """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ), pos AS (
            SELECT doc_id, i - 1 AS pos,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS shingle
            FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
                  FROM toks WHERE len(t) >= 5)
        ), dup AS (
            SELECT shingle FROM (SELECT DISTINCT shingle, doc_id FROM pos)
            GROUP BY shingle HAVING count(*) >= 2
        ), hits AS (
            SELECT p.doc_id, p.pos, p.pos + 4 AS e
            FROM pos p JOIN dup USING (shingle)
        ), flagged AS (
            SELECT doc_id, pos, e,
                   CASE WHEN pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
                        THEN 1 ELSE 0 END AS is_new
            FROM hits
        ), grouped AS (
            SELECT doc_id, pos, e,
                   sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS UNBOUNDED PRECEDING) AS span_id
            FROM flagged
        )
        SELECT doc_id,
               CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(e) AS BIGINT) AS span_end,
               CAST(max(e) - min(pos) + 1 AS BIGINT) AS span_tokens
        FROM grouped GROUP BY doc_id, span_id
        ORDER BY doc_id, span_start
    """,
    # C4-style line-level dedup over the same deterministic 8-token
    # line-ification the Spark query applies; strict policy (every
    # occurrence of a cross-doc duplicated line removed), cleaned text
    # reassembled in line order and fingerprinted
    "dedup_duplicated_lines": """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ), lines AS (
            SELECT doc_id, i AS line_no,
                   array_to_string(list_slice(t, i * 8 + 1, i * 8 + 8), ' ') AS line
            FROM (SELECT doc_id, t,
                         unnest(range(greatest(CAST(ceil(len(t) / 8.0) AS BIGINT), 1))) AS i
                  FROM toks)
        ), dup AS (
            SELECT line FROM (SELECT DISTINCT line, doc_id FROM lines
                              WHERE length(trim(line)) >= 1)
            GROUP BY line HAVING count(*) >= 2
        ), flagged AS (
            SELECT l.doc_id, l.line_no, l.line, (d.line IS NOT NULL) AS dup
            FROM lines l LEFT JOIN dup d ON l.line = d.line
        )
        SELECT doc_id,
               md5(coalesce(string_agg(CASE WHEN NOT dup THEN line END,
                                       chr(10) ORDER BY line_no), '')) AS clean_fp,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
        FROM flagged GROUP BY doc_id
        ORDER BY doc_id
    """,
    # the LSH scale path, candidate-for-candidate (deterministic planes)
    "dedup_embedding_lsh": _emb_lsh_oracle_sql(),
    # SemDeDup with seeded centroids: assignment, within-cell pairs,
    # recursive-CTE duplicate groups, keep-farthest window — all
    # deterministic arithmetic, replicated value-for-value
    "dedup_semdedup": _semdedup_oracle_sql(),
    # md5-derived signatures ⇒ cross-engine simhash; banding is exact
    # pigeonhole, so the all-pairs hamming filter is the value oracle
    "dedup_simhash": _simhash_md5_oracle_sql(),
    # decile boundaries via exact interpolated percentiles (R-7 in both
    # engines — same twin as events_value_percentiles), bucket by count
    # of boundaries strictly below the value
    "orders_value_deciles": _deciles_oracle_sql(),
    "dedup_embedding_cosine": f"""
        WITH scored AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_COSINE.format(a='a', b='b')} AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.4
        ORDER BY id_a, id_b
    """,
    # batch-vs-corpus embedding near-dups across the vec_id%5 split;
    # exact bipartite miner (block equi-join) ⇒ exact SQL equivalence
    "dedup_embedding_incremental": f"""
        WITH scored AS (
            SELECT a.vec_id AS new_id, b.vec_id AS corpus_id,
                   {_COSINE.format(a='a', b='b')} AS cosine
            FROM embeddings a JOIN embeddings b
              ON a.vec_id % 5 = 0 AND b.vec_id % 5 != 0
        )
        SELECT new_id, corpus_id, cosine FROM scored WHERE cosine >= 0.4
        ORDER BY new_id, corpus_id
    """,
    # ---- similarity ----------------------------------------------------
    "ann_lsh_topk": _lsh_ann_oracle_sql(),
    "ann_cosine_topk": f"""
        WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COSINE.format(a='q', b='c')} AS cosine
            FROM q, embeddings c
            WHERE c.vec_id <> q.vec_id
        ), ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, cosine
        FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
    """,
    "ann_cosine_topk_arrow": _arrow_ann_oracle_sql(),
    "ann_sq8_topk": _sq8_ann_oracle_sql(),
    # composed serving path: seeded-PCA projection (64->4) feeding the
    # same SQ8 pipeline; rescore cosine in the projected space
    "ann_pca_sq8_search": _sq8_ann_oracle_sql(pca_dims=4),
    "ann_ivf_topk": _ivf_ann_oracle_sql(),
    # the partitioned-index search is value-identical to ivf_topk with
    # the same (seeded) centroids — partitioning changes I/O, never
    # results — so the replica is the same pipeline at 32 seeds
    # tombstone soft-delete: the same partitioned-index pipeline with
    # ids 10..29 deleted between build and search — the oracle drops
    # them from the candidate pool only, the tombstone contract
    # rebalance replica: after the re-cluster the index IS a seeded-16
    # index over corpus-minus-deleted — searching it is exactly the
    # 16-seed IVF pipeline with the tombstoned ids out of the candidate
    # pool (quantizers seed from the pre-delete corpus, the trained-
    # artifact convention shared with the delete row)
    "ann_index_rebalance_search": _ivf_ann_oracle_sql(
        num_seeds=16, deleted=tuple(range(10, 30))
    ),
    # PSI drift replica: shares are divisions of exact ints, the eps
    # floor (greatest) and the ln product replicate the Spark
    # expressions term-for-term; only psi_term is 6dp floor-truncated
    "profiling_distribution_drift": """
        WITH prof AS (
            SELECT 'event_type' AS dim,
                   coalesce(CAST(event_type AS VARCHAR), '__null__') AS bucket,
                   event_id % 2 = 0 AS is_base
            FROM events
            UNION ALL
            SELECT 'value' AS dim,
                   CASE WHEN value IS NULL THEN '__null__'
                        ELSE CAST(
                            (CASE WHEN value >= 0.0 THEN 1 ELSE 0 END) +
                            (CASE WHEN value >= 5.0 THEN 1 ELSE 0 END) +
                            (CASE WHEN value >= 10.0 THEN 1 ELSE 0 END) +
                            (CASE WHEN value >= 25.0 THEN 1 ELSE 0 END) +
                            (CASE WHEN value >= 50.0 THEN 1 ELSE 0 END) +
                            (CASE WHEN value >= 100.0 THEN 1 ELSE 0 END)
                            AS VARCHAR) END AS bucket,
                   event_id % 2 = 0 AS is_base
            FROM events
        ), counts AS (
            SELECT dim, bucket,
                   CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
                   CAST(sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
            FROM prof GROUP BY dim, bucket
        ), tot AS (
            SELECT *,
                   sum(n_base) OVER (PARTITION BY dim) AS tb,
                   sum(n_cur) OVER (PARTITION BY dim) AS tc
            FROM counts
        )
        SELECT dim, bucket, n_base, n_cur,
               n_base::DOUBLE / tb AS base_share,
               n_cur::DOUBLE / tc AS cur_share,
               floor((greatest(n_base::DOUBLE / tb, 1e-6) -
                      greatest(n_cur::DOUBLE / tc, 1e-6)) *
                     ln(greatest(n_base::DOUBLE / tb, 1e-6) /
                        greatest(n_cur::DOUBLE / tc, 1e-6)) * 1000000.0)
                   / 1000000.0 AS psi_term
        FROM tot ORDER BY dim, bucket
    """,
    # the streaming monitor's availableNow replay == the batch profiler
    # over the same parity split — the categorical half of the shared
    # PSI replica, identical term arithmetic
    "streaming_drift_monitor": """
        WITH prof AS (
            SELECT coalesce(CAST(event_type AS VARCHAR), '__null__') AS bucket,
                   event_id % 2 = 0 AS is_base
            FROM events
        ), counts AS (
            SELECT bucket,
                   CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
                   CAST(sum(CASE WHEN NOT is_base THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
            FROM prof GROUP BY bucket
        ), tot AS (
            SELECT *,
                   sum(n_base) OVER () AS tb,
                   sum(n_cur) OVER () AS tc
            FROM counts
        )
        SELECT bucket, n_base, n_cur,
               n_base::DOUBLE / tb AS base_share,
               n_cur::DOUBLE / tc AS cur_share,
               floor((greatest(n_base::DOUBLE / tb, 1e-6) -
                      greatest(n_cur::DOUBLE / tc, 1e-6)) *
                     ln(greatest(n_base::DOUBLE / tb, 1e-6) /
                        greatest(n_cur::DOUBLE / tc, 1e-6)) * 1000000.0)
                   / 1000000.0 AS psi_term
        FROM tot ORDER BY bucket
    """,
    # the partitioned IVF+PQ search is value-identical to ivfpq_topk
    # with the same seeded artifacts — partition/column pruning changes
    # I/O, never results — so the replica is the existing IVF+PQ oracle
    "ann_ivfpq_partitioned_search": _ivfpq_ann_oracle_sql(),
    # availableNow ingest of the whole backlog == the batch index
    # build, so the streamed-then-searched results replicate with the
    # same seeded-32-cell IVF oracle
    "streaming_index_ingest": _ivf_ann_oracle_sql(num_seeds=32),
    "ann_mmr_rerank": _mmr_oracle_sql(),
    # index-balance diagnostic replica: seeded cosine assignment (the
    # ivf technique) → per-cell counts → share + FAISS imbalance
    # factor (nlist·Σn²/total², computed in DOUBLE over exact ints on
    # both engines — int64 Σn²/total² would overflow at real scale)
    "ann_cell_occupancy": """
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), seeds AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
                   v AS cv
            FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT 32)
        ), cell_scores AS (
            SELECT c.vec_id, s.cid,
                   list_dot_product(c.v, s.cv) /
                   (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s.cv, s.cv)))
                       AS s
            FROM corpus c, seeds s
        ), assigned AS (
            SELECT vec_id, cid
            FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                               ORDER BY s DESC, cid ASC) AS rn
                  FROM cell_scores)
            WHERE rn = 1
        ), per_cell AS (
            SELECT cid, CAST(count(*) AS BIGINT) AS n_vecs
            FROM assigned GROUP BY cid
        ), tot AS (
            SELECT sum(n_vecs::DOUBLE) AS total,
                   sum(n_vecs::DOUBLE * n_vecs::DOUBLE) AS sq
            FROM per_cell
        )
        SELECT p.cid, p.n_vecs,
               floor((p.n_vecs::DOUBLE / t.total) * 1000000.0) / 1000000.0 AS share,
               floor((32.0 * t.sq / (t.total * t.total)) * 1000000.0) / 1000000.0
                   AS imbalance
        FROM per_cell p, tot t
        ORDER BY p.cid
    """,
    # recall@5 of the LSH index vs brute force: both sub-pipelines are
    # the two already-green oracles verbatim (composed as CTEs); the
    # rollup is exact integer arithmetic + one int division
    "ann_recall_lsh": f"""
        WITH approx AS (
            {_lsh_ann_oracle_sql()}
        ), q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_COSINE.format(a='q', b='c')} AS cosine
            FROM q, embeddings c
            WHERE c.vec_id <> q.vec_id
        ), exact AS (
            SELECT query_id, neighbor_id
            FROM (SELECT query_id, neighbor_id,
                         row_number() OVER (PARTITION BY query_id
                                            ORDER BY cosine DESC, neighbor_id) AS rank
                  FROM scored)
            WHERE rank <= 5
        )
        SELECT e.query_id,
               CAST(count(*) AS BIGINT) AS n_exact,
               CAST(count(a.neighbor_id) AS BIGINT) AS n_hit,
               floor((count(a.neighbor_id)::DOUBLE / count(*)::DOUBLE) * 1000000.0)
                   / 1000000.0 AS recall
        FROM exact e
        LEFT JOIN approx a
          ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
        GROUP BY e.query_id
        ORDER BY e.query_id
    """,
    # ---- one pinned Lloyd iteration (the TRAINED k-means path): seeded
    # init → L2 argmin (raw-double ordering, identical sequential-fold
    # arithmetic both engines) → per-cell dimension means. The mean's
    # partial-sum order differs across engines by ~1e-16 relative —
    # absorbed by the 6dp floor everywhere off a truncation boundary
    # (the embedding_stats avg precedent) ------------------------------
    "ann_ivf_lloyd_step": """
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), seeds AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
                   v AS cv
            FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT 8)
        ), dists AS (
            SELECT c.vec_id, c.v, s.cid,
                   list_sum(list_transform(range(1, 65),
                            j -> (c.v[j] - s.cv[j]) * (c.v[j] - s.cv[j]))) AS d
            FROM corpus c, seeds s
        ), assigned AS (
            SELECT vec_id, v, cid
            FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                               ORDER BY d ASC, cid ASC) AS rn
                  FROM dists)
            WHERE rn = 1
        )
        SELECT cid, CAST(j - 1 AS INTEGER) AS dim,
               floor(avg(v[j]) * 1000000.0) / 1000000.0 AS val
        FROM assigned, range(1, 65) t(j)
        GROUP BY cid, j
        ORDER BY cid, dim
    """,
    # ---- BPE (training's corpus-scale aggregate; the iterative merge
    # loop itself is rows-only by design — see plans/queries.py) -------
    "bpe_word_frequencies": """
        WITH w AS (
            SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
            FROM documents
        )
        SELECT word, CAST(count(*) AS BIGINT) AS freq
        FROM w WHERE length(word) > 0
        GROUP BY word HAVING count(*) >= 2
        ORDER BY freq DESC, word
        LIMIT 500
    """,
    # ---- growing-corpus streaming dedup: first-occurrence-only across
    # ALL micro-batches ⇒ accepted set = distinct keys, each exactly
    # once; a cross-batch duplicate admission would surface as
    # n_accepted = 2 and hash-mismatch ---------------------------------
    "streaming_growing_corpus": """
        SELECT md5(concat_ws('|', event_type, props)) AS fingerprint,
               CAST(1 AS BIGINT) AS n_accepted
        FROM events
        GROUP BY 1
        ORDER BY fingerprint
    """,
    # ---- gopher-style quality flags: replicate every feature and the
    # composite keep decision over the 6dp-truncated ratios ------------
    "text_gopher_quality": """
        WITH f AS (
            SELECT doc_id,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                        END AS BIGINT) AS n_words,
                   length(regexp_replace(trim(text), '\\s', '', 'g'))::DOUBLE AS word_chars,
                   len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                   w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE AS alpha_words,
                   (len(regexp_extract_all(text, '#'))
                    + len(regexp_extract_all(text, '\\.\\.\\.')))::DOUBLE AS symbols,
                   CAST(len(regexp_extract_all(lower(text),
                        '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS BIGINT) AS stop_hits
            FROM documents
        ), r AS (
            SELECT doc_id, n_words, stop_hits,
                   CASE WHEN n_words > 0
                        THEN floor((word_chars / CAST(n_words AS DOUBLE)) * 1000000.0) / 1000000.0
                        ELSE 0.0 END AS mean_word_len,
                   CASE WHEN n_words > 0
                        THEN floor((alpha_words / CAST(n_words AS DOUBLE)) * 1000000.0) / 1000000.0
                        ELSE 0.0 END AS alpha_ratio,
                   CASE WHEN n_words > 0
                        THEN floor((symbols / CAST(n_words AS DOUBLE)) * 1000000.0) / 1000000.0
                        ELSE 0.0 END AS symbol_ratio
            FROM f
        )
        SELECT doc_id,
               n_words AS gopher_words,
               mean_word_len AS gopher_mean_word_len,
               alpha_ratio AS gopher_alpha_ratio,
               symbol_ratio AS gopher_symbol_ratio,
               stop_hits AS gopher_stop_hits,
               (n_words >= 10 AND n_words <= 100000
                AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
                AND symbol_ratio < 0.1 AND alpha_ratio > 0.6
                AND stop_hits >= 2) AS gopher_keep
        FROM r
        ORDER BY doc_id
    """,
    # ---- temperature sampling: per-lang sqrt-weights summed in sorted
    # lang order (list() preserves the ORDER BY ⇒ sequential float sum
    # matches the driver-side Python loop), md5-prefix hash coin with
    # the same round-to-2^32 threshold --------------------------------
    # sequence-length histogram replica: bit-length buckets via
    # base-2 string length (bin() ≡ Spark conv(n,10,2) — no float
    # log2, so bucket edges are exact), shares = int divisions
    # training-shard export replica: md5-fold shard assignment (the
    # sample_shuffle_shards idiom), whitespace token counter (the
    # sample_token_budget idiom), and the density identity max_pos ==
    # n_docs (dense 1-based in-shard positions). The Spark side reads
    # its manifest back from the written partitionBy(shard) dataset, so
    # a misplaced row / dropped file / position gap hash-mismatches.
    "pretraining_shard_export": """
        WITH sharded AS (
            SELECT doc_id, text,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16
                        AS INTEGER) AS shard
            FROM documents
        ), counted AS (
            SELECT shard, doc_id,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                        AS BIGINT) AS ws_tokens
            FROM sharded
        )
        SELECT shard,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ws_tokens) AS BIGINT) AS n_tokens,
               CAST(sum(doc_id) AS BIGINT) AS id_sum,
               CAST(count(*) AS BIGINT) AS max_pos
        FROM counted GROUP BY shard ORDER BY shard
    """,
    # cluster-balanced diversity sampling replica: SEEDED cosine cell
    # assignment (32 lowest-id vectors, argmax cosine with ties →
    # lowest cid — the ann_ivf_topk technique) + per-cell md5-order
    # draw of 5. Integer-only output.
    "sample_cluster_balanced": """
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), seeds AS (
            SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid,
                   v AS cv
            FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT 32)
        ), cell_scores AS (
            SELECT c.vec_id, s.cid,
                   list_dot_product(c.v, s.cv) /
                   (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(s.cv, s.cv)))
                       AS s
            FROM corpus c, seeds s
        ), assigned AS (
            SELECT vec_id, cid
            FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                                               ORDER BY s DESC, cid ASC) AS rn
                  FROM cell_scores)
            WHERE rn = 1
        ), drawn AS (
            SELECT cid, vec_id,
                   CAST(row_number() OVER (PARTITION BY cid
                                           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                        AS INTEGER) AS cell_rank
            FROM assigned
        )
        SELECT cid, vec_id, cell_rank
        FROM drawn WHERE cell_rank <= 5
        ORDER BY cid, cell_rank
    """,
    # DSIR importance resampling replica: same md5-derived 512-bucket
    # n-gram hashing, same add-one-smoothed ln ratios from exact ints
    # (IEEE divide + libm ln — the surprisal discipline), per-doc fold
    # in n-gram position order (list(... ORDER BY pos) + list_sum ≡
    # Spark's sequential `aggregate`), hash-derived Gumbel keys, 6dp
    # trunc on output only. Documents whose token list is empty score
    # 0.0 on both sides (LEFT JOIN + coalesce here; fold over an empty
    # array there).
    "sample_dsir": f"""
        WITH {_DSIR_SCORED_CTES}, keyed AS (
            SELECT doc_id, score,
                   score + (-ln(-ln(
                       ((('0x' || substr(md5(doc_id::VARCHAR || 'dsir'), 1, 8))::BIGINT
                         + 1)::DOUBLE) / 4294967298.0))) AS skey
            FROM scored
        )
        SELECT doc_id,
               floor(score * 1000000.0) / 1000000.0 AS dsir_score,
               floor(skey * 1000000.0) / 1000000.0 AS sample_key
        FROM keyed
        ORDER BY skey DESC, doc_id
        LIMIT 100
    """,
    # the streaming gate is the SAME scoring pipeline applied to the
    # documents-as-stream (scoring is a pure projection ⇒ stream-safe);
    # availableNow replay == the batch filter, which is this oracle
    "streaming_dsir_gate": f"""
        WITH {_DSIR_SCORED_CTES}
        SELECT doc_id,
               floor(score * 1000000.0) / 1000000.0 AS dsir_score
        FROM scored
        WHERE score > 0
        ORDER BY doc_id
    """,
    # metric_topk replica: L2 = left fold over (x−y)² terms (the
    # single-pass stable form, matching Spark's zip_with+aggregate
    # chain term-for-term), IP = the dot-product fold; ranks order by
    # the TRUNCATED score in both engines, neighbor-id tie-break
    "ann_metric_topk": """
        WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), q AS (
            SELECT vec_id AS q_id, v AS qv FROM base WHERE vec_id < 10
        ), scored AS (
            SELECT 'l2' AS metric, q.q_id AS query_id, c.vec_id AS neighbor_id,
                   floor(list_reduce(
                       list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(range(1, len(c.v) + 1),
                               i -> (q.qv[i] - c.v[i]) * (q.qv[i] - c.v[i]))),
                       (a, b) -> a + b) * 1000000.0) / 1000000.0 AS score
            FROM base c, q WHERE q.q_id <> c.vec_id
            UNION ALL
            SELECT 'ip', q.q_id, c.vec_id,
                   floor(list_dot_product(q.qv, c.v) * 1000000.0) / 1000000.0
            FROM base c, q WHERE q.q_id <> c.vec_id
        ), ranked AS (
            SELECT metric, query_id, neighbor_id, score,
                   CAST(row_number() OVER (PARTITION BY metric, query_id
                        ORDER BY CASE WHEN metric = 'l2' THEN score ELSE -score END,
                                 neighbor_id) AS INTEGER) AS rank
            FROM scored
        )
        SELECT query_id, neighbor_id, rank, score, metric
        FROM ranked WHERE rank <= 5
        ORDER BY metric, query_id, rank
    """,
    # weighted_sample replica: the DSIR Gumbel draw with score =
    # ln(weight); non-positive weights excluded on both sides
    "sample_weighted": """
        WITH keyed AS (
            SELECT o_orderkey,
                   ln(o_totalprice) + (-ln(-ln(
                       ((('0x' || substr(md5(o_orderkey::VARCHAR || 'wtd'), 1, 8))::BIGINT
                         + 1)::DOUBLE) / 4294967298.0))) AS skey
            FROM orders WHERE o_totalprice > 0
        )
        SELECT o_orderkey, floor(skey * 1000000.0) / 1000000.0 AS sample_key
        FROM keyed ORDER BY skey DESC, o_orderkey LIMIT 200
    """,
    "sample_temperature": _temperature_mix_sql("documents", "lang"),
    # concat-and-chunk sequence packing: same md5-hash layout order and
    # running-sum window as operators/text.pack_sequences (budget=64)
    "text_pack_sequences": """
        WITH t AS (
            SELECT doc_id, source,
                   CAST(CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                        END AS BIGINT) AS ws_tokens
            FROM documents
        ), c AS (
            SELECT doc_id, source, ws_tokens,
                   sum(ws_tokens) OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ROWS UNBOUNDED PRECEDING) - ws_tokens AS start
            FROM t
        )
        SELECT doc_id, source, ws_tokens,
               CAST(floor(start / 64) AS BIGINT) AS seq_id,
               CAST(start % 64 AS BIGINT) AS seq_offset
        FROM c
        ORDER BY source, seq_id, doc_id
    """,
    # overlapping token-window chunking: range() list + 1-based inclusive
    # list slice reproduce Spark's sequence + posexplode + slice exactly
    "text_chunk_tokens": """
        WITH t AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents WHERE length(trim(text)) > 0
        ), s AS (
            SELECT doc_id, toks, unnest(range(0, len(toks), 40)) AS start
            FROM t
        )
        SELECT doc_id,
               CAST(start // 40 AS BIGINT) AS chunk_idx,
               array_to_string(toks[start + 1 : start + 50], ' ') AS chunk_text,
               CAST(least(50, len(toks) - start) AS BIGINT) AS n_tokens
        FROM s ORDER BY doc_id, chunk_idx
    """,
    # quality-gate weld replica: the three per-doc screens composed —
    # the heuristic quality score (shared _QUALITY_EXPRS), the shared
    # char-entropy chain (_ENTROPY_CTES), and the shared classifier
    # chain (_CLASSIFIER_CTES) — then a per-source rollup whose
    # kept-score sum is EXACT decimal. Composing the SAME fragments the
    # standalone oracles use keeps "individually oracle-identical ⇒
    # composition identical" true by construction, not by copy.
    "text_quality_gate": _quality_gate_sql("", "documents", "source"),
    # the SAME gate chain rolled up by registered domain — the shared
    # builder plus the shared URL CTEs, equal to the standalone gate
    # by construction
    "text_domain_quality": _quality_gate_sql(
        f"{_CANON_URL_CTES}, ", "named", "registered_domain"
    ),
    # classifier-inference replica: the shared CTE chain (see
    # _CLASSIFIER_CTES)
    "text_classifier_score": f"""
        WITH {_CLASSIFIER_CTES}
        SELECT doc_id, quality_prob FROM probs ORDER BY doc_id
    """,
    # char-entropy replica: the shared CTE chain (see _ENTROPY_CTES)
    "text_char_entropy": f"""
        WITH {_ENTROPY_CTES}
        SELECT doc_id, char_entropy FROM ent ORDER BY doc_id
    """,
    "text_lang_id": f"""
        WITH scores AS (
            SELECT doc_id, lang, {_LANG_SCORES}
            FROM documents
        )
        SELECT doc_id, lang, {_LANG_PRED} AS lang_pred,
               CAST(greatest(score_de, score_en, score_es, score_fr, score_zh) AS BIGINT) AS lang_score
        FROM scores ORDER BY doc_id
    """,
    "text_fingerprint": """
        SELECT doc_id,
               md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint
        FROM documents ORDER BY doc_id
    """,
    "text_pii_scrub": f"""
        WITH planted AS ({_PLANTED_PII})
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT) AS n_phones,
               CAST(len(regexp_extract_all(t, '{_PII_IP}')) AS BIGINT) AS n_ips,
               CAST(length({_PII_REDACTED}) AS BIGINT) AS n_chars_redacted,
               md5({_PII_REDACTED}) AS redacted_fp
        FROM planted ORDER BY doc_id
    """,
    # un-logged tf-idf (tf × N / df): integer-exact factors ⇒ one
    # division ⇒ bit-identical scores; ties break on term ascending
    # unigram surprisal: per-token ln-probs identical in both engines
    # (same IEEE divide + ln); the per-doc sum folds in POSITION order
    # on both sides (sort_array fold / list(... ORDER BY pos) +
    # list_sum), so the mean is bit-identical before the 6dp trunc
    "text_tfidf_top_terms": """
        WITH toks AS (
            SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
            FROM documents WHERE length(trim(text)) > 0
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
        ), dfreq AS (
            SELECT term, count(*) AS df_t FROM tf GROUP BY term
        ), n AS (
            SELECT count(DISTINCT doc_id) AS n_docs FROM toks
        ), scored AS (
            SELECT tf.doc_id, tf.term,
                   floor((CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(dfreq.df_t AS DOUBLE))
                         * 1000000.0) / 1000000.0 AS score
            FROM tf, dfreq, n WHERE tf.term = dfreq.term
        ), ranked AS (
            SELECT doc_id, term, score,
                   CAST(row_number() OVER (PARTITION BY doc_id
                                           ORDER BY score DESC, term) AS INTEGER) AS rank
            FROM scored
        )
        SELECT doc_id, rank, term, score FROM ranked WHERE rank <= 3
        ORDER BY doc_id, rank
    """,
    # fuzzy decontamination: planted paraphrased eval twins (first token
    # dropped, re-id'd +1e6) must flag their training source — the
    # replica computes the EXACT cross-side 3-gram Jaccard over the same
    # derived eval texts (the dedup_incremental construction, bipartite)
    "benchmark_near_contamination": """
        WITH train AS (
            SELECT doc_id, text FROM documents
        ), ev AS (
            SELECT doc_id + 1000000 AS doc_id,
                   regexp_replace(trim(text), '^\\S+\\s+', '') AS text
            FROM documents WHERE doc_id % 50 = 0
        ), toks AS (
            SELECT doc_id, 't' AS side, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM train
            UNION ALL
            SELECT doc_id, 'e' AS side, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM ev
        ), sh AS (
            SELECT DISTINCT doc_id, side,
                   t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM (SELECT doc_id, side, t, unnest(range(1, len(t) - 1)) AS i
                  FROM toks WHERE len(t) >= 3)
        ), sizes AS (
            SELECT doc_id, side, count(*) AS set_size FROM sh GROUP BY doc_id, side
        ), common AS (
            SELECT a.doc_id AS eval_id, b.doc_id AS train_id, count(*) AS common
            FROM sh a JOIN sh b ON a.shingle = b.shingle
            WHERE a.side = 'e' AND b.side = 't'
            GROUP BY 1, 2
        ), scored AS (
            SELECT train_id, eval_id,
                   floor((common / (sa.set_size + sb.set_size - common)) * 1000000.0)
                       / 1000000.0 AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = eval_id AND sa.side = 'e'
            JOIN sizes sb ON sb.doc_id = train_id AND sb.side = 't'
        )
        SELECT train_id, eval_id, jaccard FROM scored WHERE jaccard >= 0.8
        ORDER BY train_id, eval_id
    """,
    # seeded PCA projection: mean = the lowest-id vector, components =
    # the next four (the _seed_centroids convention) — each output a
    # sequential centered dot-product fold, floor-truncated at 6dp
    "embedding_pca_project": """
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), seeds AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS rn, v
            FROM (SELECT vec_id, v FROM corpus ORDER BY vec_id LIMIT 5)
        ), meanv AS (
            SELECT v AS m FROM seeds WHERE rn = 0
        ), comps AS (
            SELECT CAST(rn - 1 AS INTEGER) AS j, v AS cv FROM seeds WHERE rn >= 1
        ), centered AS (
            SELECT c.vec_id,
                   list_transform(range(1, len(c.v) + 1), i -> c.v[i] - m.m[i]) AS cx
            FROM corpus c, meanv m
        ), proj AS (
            SELECT vec_id, j,
                   floor(list_dot_product(cx, cv) * 1000000.0) / 1000000.0 AS z
            FROM centered, comps
        )
        SELECT vec_id,
               max(CASE WHEN j = 0 THEN z END) AS z0,
               max(CASE WHEN j = 1 THEN z END) AS z1,
               max(CASE WHEN j = 2 THEN z END) AS z2,
               max(CASE WHEN j = 3 THEN z END) AS z3
        FROM proj GROUP BY vec_id ORDER BY vec_id
    """,
    "benchmark_contamination": f"""
        WITH train_sh AS (
            {_SHINGLE5.format(where="WHERE doc_id % 50 <> 0")}
        ), eval_sh AS (
            SELECT DISTINCT shingle FROM ({_SHINGLE5.format(where="WHERE doc_id % 50 = 0")})
        )
        SELECT t.doc_id,
               count(*) AS n_ngrams,
               CAST(coalesce(sum(CASE WHEN e.shingle IS NOT NULL THEN 1 END), 0) AS BIGINT)
                   AS n_contaminated,
               floor((CAST(coalesce(sum(CASE WHEN e.shingle IS NOT NULL THEN 1 END), 0) AS DOUBLE)
                      / CAST(count(*) AS DOUBLE)) * 1000000.0) / 1000000.0 AS contamination_frac
        FROM train_sh t LEFT JOIN eval_sh e ON t.shingle = e.shingle
        GROUP BY t.doc_id ORDER BY t.doc_id
    """,
    # the KMV sink in production position: union of per-batch k-mins
    # equals the GLOBAL k-min (every overall-smallest hash survives its
    # own batch's cut), so the streamed estimate is replicated EXACTLY
    # — no envelope, unlike the DataSketches NDV monitor
    "streaming_kmv_monitor": """
        WITH mins AS (
            SELECT h FROM (
                SELECT DISTINCT ('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
                FROM events WHERE user_id IS NOT NULL
            ) ORDER BY h LIMIT 512
        ), geo AS (
            SELECT (SELECT count(*) FROM mins) AS m,
                   (SELECT max(h) FROM mins) AS h_k
        )
        SELECT 'user_id' AS "column",
               (SELECT count(user_id) FROM events)::BIGINT AS n_rows,
               CASE WHEN m < 512 THEN m
                    ELSE CAST(floor((511.0 * 1152921504606846976.0) / h_k::DOUBLE) AS BIGINT)
               END AS n_distinct_est,
               (SELECT count(DISTINCT user_id) FROM events)::BIGINT AS exact_ndv
        FROM geo
    """,
    # KMV set-operation sketches: the ENTIRE estimator chain is
    # md5-deterministic set arithmetic (the 'kmv:'-salted 15-hex coin,
    # k smallest distinct, (k-1)*2^60/h_k with 511*2^60 exactly
    # representable, intersection = floor(both*d_u/|U|)) — replicated
    # term-for-term, exact match, no envelope. 2^60 =
    # 1152921504606846976.
    "profiling_kmv_set_overlap": """
        WITH ev AS (
            SELECT CAST(CASE WHEN user_id % 3 = 0 AND p = 1
                             THEN user_id + 1000000 ELSE user_id END
                        AS VARCHAR) AS u, p
            FROM (SELECT user_id,
                         datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 2 AS p
                  FROM events WHERE user_id IS NOT NULL)
        ), ha AS (SELECT DISTINCT u FROM ev WHERE p = 0),
        hb AS (SELECT DISTINCT u FROM ev WHERE p = 1),
        mins_a AS (
            SELECT h FROM (SELECT ('0x' || substr(md5('kmv:' || u), 1, 15))::BIGINT AS h
                           FROM ha) ORDER BY h LIMIT 512
        ), mins_b AS (
            SELECT h FROM (SELECT ('0x' || substr(md5('kmv:' || u), 1, 15))::BIGINT AS h
                           FROM hb) ORDER BY h LIMIT 512
        ), mins_u AS (
            SELECT h FROM (SELECT h FROM mins_a UNION SELECT h FROM mins_b)
            ORDER BY h LIMIT 512
        ), geo AS (
            SELECT (SELECT count(*) FROM mins_a) AS ma,
                   (SELECT count(*) FROM mins_b) AS mb,
                   (SELECT count(*) FROM mins_u) AS mu,
                   (SELECT max(h) FROM mins_a) AS ha_k,
                   (SELECT max(h) FROM mins_b) AS hb_k,
                   (SELECT max(h) FROM mins_u) AS hu_k,
                   (SELECT count(*) FROM mins_u
                    WHERE h IN (SELECT h FROM mins_a)
                      AND h IN (SELECT h FROM mins_b)) AS n_both
        ), est AS (
            SELECT
                CASE WHEN ma < 512 THEN ma
                     ELSE CAST(floor((511.0 * 1152921504606846976.0) / ha_k::DOUBLE) AS BIGINT)
                END AS ndv_a_est,
                CASE WHEN mb < 512 THEN mb
                     ELSE CAST(floor((511.0 * 1152921504606846976.0) / hb_k::DOUBLE) AS BIGINT)
                END AS ndv_b_est,
                CASE WHEN mu < 512 THEN mu
                     ELSE CAST(floor((511.0 * 1152921504606846976.0) / hu_k::DOUBLE) AS BIGINT)
                END AS union_est,
                n_both, mu
            FROM geo
        ), ex AS (
            SELECT count(*) FILTER (WHERE in_a = 1)::BIGINT AS exact_a,
                   count(*) FILTER (WHERE in_b = 1)::BIGINT AS exact_b,
                   count(*)::BIGINT AS exact_union,
                   count(*) FILTER (WHERE in_a = 1 AND in_b = 1)::BIGINT AS exact_inter
            FROM (SELECT u, max(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS in_a,
                         max(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS in_b
                  FROM ev GROUP BY u)
        )
        SELECT ndv_a_est, ndv_b_est, union_est,
               CAST(floor((n_both::DOUBLE * union_est::DOUBLE) / mu::DOUBLE) AS BIGINT)
                   AS intersection_est,
               floor((n_both::DOUBLE / mu::DOUBLE) * 1000000.0) / 1000000.0 AS jaccard_est,
               exact_a, exact_b, exact_union, exact_inter
        FROM est, ex
    """,
    # span-level decontamination REMOVAL (VERDICT r9 #2): the eval
    # 5-gram set (every 50th doc + two planted 8-token excerpts of
    # every 11th long train doc — Spark slice(toks, 3, 8) ≡ DuckDB
    # list_slice(tk, 3, 10), slice(toks, 25, 8) ≡ list_slice(tk, 25,
    # 32)) marks covered token positions; the kept-token string_agg
    # must md5-match Spark's excised text EXACTLY, and untouched docs
    # pin the RAW text bytes (the byte-preservation contract)
    "text_decontaminated_spans": """
        WITH ttk AS (
            SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS tk
            FROM documents
        ), train AS (
            SELECT doc_id, text, tk FROM ttk WHERE doc_id % 50 <> 0
        ), eval_docs AS (
            SELECT text FROM documents WHERE doc_id % 50 = 0
            UNION ALL
            SELECT array_to_string(list_slice(tk, 3, 10), ' ')
            FROM train WHERE doc_id % 11 = 0 AND len(tk) >= 40
            UNION ALL
            SELECT array_to_string(list_slice(tk, 25, 32), ' ')
            FROM train WHERE doc_id % 11 = 0 AND len(tk) >= 40
        ), eval_sh AS (
            SELECT DISTINCT
                   tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                   tk[i+3] || ' ' || tk[i+4] AS shingle
            FROM (SELECT tk, unnest(range(1, len(tk) - 3)) AS i
                  FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS tk
                        FROM eval_docs)
                  WHERE len(tk) >= 5)
        ), grams AS (
            SELECT doc_id, i - 1 AS pos,
                   tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' ||
                   tk[i+3] || ' ' || tk[i+4] AS gram
            FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
                  FROM train WHERE len(tk) >= 5)
        ), hits AS (
            SELECT g.doc_id, g.pos FROM grams g JOIN eval_sh e ON g.gram = e.shingle
        ), covpos AS (
            SELECT DISTINCT h.doc_id, h.pos + u.d AS idx
            FROM hits h, (SELECT unnest(range(0, 5)) AS d) u
        ), toksl AS (
            SELECT doc_id, i - 1 AS idx, tk[i] AS tok
            FROM (SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
                  FROM train WHERE length(trim(text)) > 0)
        ), cov AS (
            SELECT t.doc_id, t.idx, t.tok, (c.idx IS NOT NULL) AS covered
            FROM toksl t LEFT JOIN covpos c
              ON c.doc_id = t.doc_id AND c.idx = t.idx
        ), rebuilt AS (
            SELECT doc_id,
                   coalesce(string_agg(tok, ' ' ORDER BY idx)
                            FILTER (WHERE NOT covered), '') AS clean,
                   sum(CASE WHEN covered THEN 1 ELSE 0 END)::BIGINT AS nrem
            FROM cov GROUP BY doc_id
        ), spans AS (
            SELECT doc_id, sum(new_span)::BIGINT AS n_spans
            FROM (SELECT doc_id,
                         CASE WHEN lag(idx) OVER w IS NULL
                                   OR lag(idx) OVER w < idx - 1
                              THEN 1 ELSE 0 END AS new_span
                  FROM covpos WINDOW w AS (PARTITION BY doc_id ORDER BY idx))
            GROUP BY doc_id
        )
        SELECT t.doc_id,
               md5(CASE WHEN coalesce(s.n_spans, 0) > 0 THEN r.clean
                        ELSE t.text END) AS clean_fp,
               (CASE WHEN length(trim(t.text)) = 0 THEN 0
                     ELSE len(t.tk) END)::BIGINT AS total_tokens,
               coalesce(r.nrem, 0)::BIGINT AS n_tokens_removed,
               coalesce(s.n_spans, 0)::BIGINT AS n_spans_removed,
               (coalesce(r.nrem, 0) > 0) AS contaminated
        FROM train t
        LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
        LEFT JOIN spans s ON s.doc_id = t.doc_id
        ORDER BY t.doc_id
    """,
    # near-dup drop (higher id of each pair) → md5-threshold 50% sample
    # → per-label norm stats; mirrors the Spark composition stagewise
    "embedding_curation_pipeline": f"""
        WITH pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_COSINE.format(a='a', b='b')} AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        ), dropped AS (
            SELECT DISTINCT id_b FROM pairs WHERE cosine >= 0.4
        ), kept AS (
            SELECT * FROM embeddings
            WHERE vec_id NOT IN (SELECT id_b FROM dropped)
        ), sampled AS (
            SELECT * FROM kept
            WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) < '{_threshold_hex(0.5)}'
        )
        SELECT label, count(*) AS n_vecs,
               round(avg(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 6)
                   AS avg_norm
        FROM sampled
        GROUP BY label ORDER BY label
    """,
    # salted join is a physical rewrite: result == plain equi-join
    "events_user_join_salted": """
        WITH user_dim AS (
            SELECT user_id, count(*) AS user_events,
                   round(sum(value), 4) AS user_value
            FROM events GROUP BY user_id
        )
        SELECT e.event_id, e.user_id, e.event_type, u.user_events, u.user_value
        FROM events e JOIN user_dim u ON e.user_id = u.user_id
        ORDER BY e.event_id
    """,
    # dense hourly spine per type (generate_series == Spark sequence),
    # zero-filled counts, locf averages via IGNORE NULLS window
    "events_hourly_gapfill": """
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS h,
                   count(*) AS n_events,
                   round(round(sum(value), 2) / count(*), 6) AS avg_value
            FROM events GROUP BY 1, 2
        ), bounds AS (
            SELECT event_type, min(h) AS mn, max(h) AS mx FROM hourly GROUP BY 1
        ), spine AS (
            SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
            FROM bounds
        )
        SELECT s.event_type,
               strftime(s.h, '%Y-%m-%d %H:%M:%S') AS bucket_ts,
               CAST(coalesce(hh.n_events, 0) AS BIGINT) AS n_events,
               last_value(hh.avg_value IGNORE NULLS) OVER (
                   PARTITION BY s.event_type ORDER BY s.h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
        FROM spine s LEFT JOIN hourly hh
          ON s.event_type = hh.event_type AND s.h = hh.h
        ORDER BY s.event_type, bucket_ts
    """,
    # streaming ingest dedup vs static corpus: per-batch left-anti join
    # + within-stream dedup == batch anti-join DISTINCT on replay
    "streaming_corpus_dedup": """
        WITH fp AS (
            SELECT event_id,
                   md5(event_type || '|' || props || '|' || user_id) AS fingerprint
            FROM events
        )
        SELECT DISTINCT fingerprint FROM fp
        WHERE event_id % 5 = 0
          AND fingerprint NOT IN (
              SELECT fingerprint FROM fp WHERE event_id % 5 != 0
          )
        ORDER BY fingerprint
    """,
    # stream-stream interval join == batch inequality join on replay
    "streaming_error_click_join": """
        SELECT e.event_id AS error_id, c.event_id AS click_id
        FROM (SELECT event_id, ts FROM events WHERE event_type = 'error') e
        JOIN (SELECT event_id, ts FROM events WHERE event_type = 'click') c
          ON epoch_us(c.ts) >= epoch_us(e.ts)
         AND epoch_us(c.ts) < epoch_us(e.ts) + 3600000000
        ORDER BY error_id, click_id
    """,
    "streaming_static_enrich": """
        WITH cohorts AS (
            SELECT user_id, strftime(min(ts), '%Y-%m-%d') AS cohort_day
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        )
        SELECT cohort_day, count(*) AS n_purchases,
               round(sum(value), 4) AS sum_value
        FROM events e JOIN cohorts c USING (user_id)
        WHERE e.event_type = 'purchase'
        GROUP BY cohort_day ORDER BY cohort_day
    """,
    # streaming_hourly_rollup RETIRED r10 — covered by
    # streaming_sliding_counts (same windowed_rollup/run_available_now
    # path, hopping expansion) + events_hourly_gapfill (batch superset)
    # hopping window (2h/1h): every event contributes to the window
    # starting at its hour and the one starting an hour earlier —
    # exactly Spark's epoch-aligned window expansion
    "streaming_sliding_counts": """
        WITH contrib AS (
            SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
            UNION ALL
            SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM events
        )
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
               count(*) AS n_events,
               round(sum(value), 2) AS sum_value
        FROM contrib
        GROUP BY ws, event_type
        ORDER BY window_start, event_type
    """,
    # foreachBatch upsert final snapshot == batch argmax per key
    "streaming_latest_per_user": """
        SELECT user_id, epoch_us(ts) AS last_ts_us, event_type, value
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC
            ) AS rn
            FROM events
        )
        WHERE rn = 1
        ORDER BY user_id
    """,

    # ---- round-3 late additions (below the driver window this round;
    # verified via tools/check_oracles at sf0.001 + sf0.01) ----
    "io_orc_roundtrip": """
        SELECT l_returnflag, count(*) AS n_rows,
               round(sum(l_quantity), 2) AS sum_qty
        FROM lineitem WHERE l_quantity < 25
        GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "events_join_fanout": """
        WITH lc AS (
            SELECT user_id, count(*) AS n_left FROM events
            WHERE event_type = 'error' GROUP BY user_id
        ), rc AS (
            SELECT user_id, count(*) AS n_right FROM events
            WHERE event_type = 'click' GROUP BY user_id
        ), contrib AS (
            SELECT user_id, n_left, n_right, n_left * n_right AS out_rows
            FROM lc JOIN rc USING (user_id)
        ), total AS (
            SELECT sum(out_rows)::DOUBLE AS t FROM contrib
        ), top AS (
            SELECT * FROM contrib ORDER BY out_rows DESC, user_id LIMIT 20
        )
        SELECT user_id, n_left, n_right, out_rows,
               CAST(row_number() OVER (ORDER BY out_rows DESC, user_id) AS INTEGER) AS rank,
               floor(out_rows / total.t * 1000000.0) / 1000000.0 AS share
        FROM top, total
        ORDER BY rank
    """,
    # independent construction of the expected visible text — the
    # planted shell contributes exactly 15 tags, a leading title 'T',
    # and the one-level-decoded entity tail
    "text_html_extract": """
        WITH clean AS (
            SELECT doc_id,
                   'T ' || trim(regexp_replace(text, '\\s+', ' ', 'g')) || ' & tail <ok>' AS c
            FROM documents
        )
        SELECT doc_id, CAST(15 AS BIGINT) AS n_html_tags,
               length(c) AS clean_len, md5(c) AS clean_fp
        FROM clean ORDER BY doc_id
    """,
    "text_ngram_repetition": """
        WITH base AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents
        ), g3 AS (
            SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
            FROM base, unnest(range(1, len(toks) - 1)) t(i)
            WHERE len(toks) >= 3
        ), cnt3 AS (
            SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY doc_id, gram
        ), best AS (
            SELECT doc_id, c::DOUBLE * length(gram)::DOUBLE AS cov_chars
            FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                               ORDER BY c DESC, gram ASC) AS rn
                  FROM cnt3)
            WHERE rn = 1
        ), normc AS (
            SELECT doc_id, length(array_to_string(toks, ' '))::DOUBLE AS nchars,
                   len(toks) AS n FROM base
        ), g5 AS (
            SELECT doc_id, i AS pos, length(toks[i]) AS tok_len,
                   array_to_string(toks[i:i+4], ' ') AS gram
            FROM base, unnest(range(1, len(toks) - 3)) t(i)
            WHERE len(toks) >= 5
        ), g5c AS (
            -- 0-based char offset of token `pos` in the normalized
            -- text: running sum of (tok_len + 1) over earlier grams
            -- (positions are consecutive, so the sum is exact)
            SELECT doc_id, pos, gram,
                   count(*) OVER (PARTITION BY doc_id, gram) AS c,
                   coalesce(sum(tok_len + 1) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cs
            FROM g5
        ), dup AS (
            SELECT doc_id, pos, cs, cs + length(gram) - 1 AS ce
            FROM g5c WHERE c >= 2
        ), cov AS (
            SELECT doc_id,
                   greatest(0, ce - greatest(cs - 1,
                       coalesce(max(ce) OVER (PARTITION BY doc_id ORDER BY pos
                                              ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING), -1))) AS newc
            FROM dup
        ), dup5 AS (
            SELECT doc_id, sum(newc) AS covered FROM cov GROUP BY doc_id
        )
        SELECT n.doc_id,
               coalesce(floor(b.cov_chars / n.nchars * 1000000.0) / 1000000.0, 0.0)
                   AS top_3gram_cov,
               coalesce(floor(d.covered::DOUBLE / n.nchars * 1000000.0) / 1000000.0, 0.0)
                   AS dup_5gram_frac
        FROM normc n
        LEFT JOIN best b USING (doc_id)
        LEFT JOIN dup5 d USING (doc_id)
        ORDER BY n.doc_id
    """,
    # float discipline: (1.0 - 0.7) is COMPUTED, not written as 0.3 —
    # the IEEE results differ in the last bit and the Spark side folds
    # the computed form
    "text_bigram_surprisal": """
        WITH base AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS l
            FROM documents WHERE length(trim(text)) > 0
        ), toks AS (
            SELECT doc_id, s.pos AS pos, s.tok AS tok
            FROM (SELECT doc_id,
                         unnest(list_transform(range(1, len(l)+1),
                                               i -> {'pos': i, 'tok': l[i]})) AS s
                  FROM base)
            WHERE len(s.tok) > 0
        ), counts AS (
            SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
        ), total AS (
            SELECT count(*)::DOUBLE AS n FROM toks
        ), bigr AS (
            SELECT t.doc_id, t.pos, p.tok AS prev, t.tok AS tok
            FROM toks t JOIN toks p ON p.doc_id = t.doc_id AND p.pos = t.pos - 1
        ), bcounts AS (
            SELECT prev, tok, count(*) AS bc FROM bigr GROUP BY prev, tok
        ), ctx AS (
            SELECT prev, sum(bc) AS cc FROM bcounts GROUP BY prev
        ), first AS (
            SELECT t.doc_id, t.pos, -ln(c.cnt::DOUBLE / total.n) AS lp
            FROM toks t JOIN counts c USING (tok), total
            WHERE t.pos = 1
        ), rest AS (
            SELECT b.doc_id, b.pos,
                   -ln(0.7 * (bco.bc::DOUBLE / ctx.cc::DOUBLE)
                       + (1.0 - 0.7) * (c.cnt::DOUBLE / total.n)) AS lp
            FROM bigr b
            JOIN bcounts bco ON bco.prev = b.prev AND bco.tok = b.tok
            JOIN ctx ON ctx.prev = b.prev
            JOIN counts c ON c.tok = b.tok, total
        ), agged AS (
            SELECT doc_id, list(lp ORDER BY pos) AS lps
            FROM (SELECT * FROM first UNION ALL SELECT * FROM rest)
            GROUP BY doc_id
        )
        SELECT doc_id, CAST(len(lps) AS BIGINT) AS n_toks,
               floor((list_sum(lps) / len(lps)) * 1000000.0) / 1000000.0 AS avg_surprisal
        FROM agged ORDER BY doc_id
    """,
    "ann_pq_topk": _pq_ann_oracle_sql(),
    "ann_ivfpq_topk": _ivfpq_ann_oracle_sql(),
    "multimodal_image_dhash": f"""
        WITH h AS (
            SELECT doc_id, sha256(text) AS hx FROM documents
        ), v AS (
            SELECT doc_id, {_hex_to_bigint_sql('hx', 16, 'HUGEINT')} AS val FROM h
        )
        SELECT doc_id,
               CAST(CASE WHEN val >= 9223372036854775808::HUGEINT
                         THEN val - 18446744073709551616::HUGEINT
                         ELSE val END AS BIGINT) AS dhash,
               'fake' AS decoder
        FROM v ORDER BY doc_id
    """,
    # numeric_summary replica: exact decimal Σx / Σx² (order-free),
    # (Σx² multiplies int128-backed DECIMAL(19,6) — DuckDB's int64
    # decimal multiply overflows — result exactness unchanged),
    # then the SAME IEEE double derivation — mean = s1/n, sample var =
    # (s2 − s1²/n)/(n−1), correctly-rounded sqrt, floor at 6dp
    "profiling_numeric_summary": """
        WITH moments AS (
            SELECT 'l_quantity' AS "column", count(*) AS n_rows,
                   count(l_quantity) AS n, min(l_quantity::DOUBLE) AS mn,
                   max(l_quantity::DOUBLE) AS mx,
                   sum(l_quantity::DECIMAL(18,6))::DOUBLE AS s1,
                   sum((l_quantity::DECIMAL(19,6)) * (l_quantity::DECIMAL(19,6)))::DOUBLE AS s2
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', count(*), count(l_extendedprice),
                   min(l_extendedprice::DOUBLE), max(l_extendedprice::DOUBLE),
                   sum(l_extendedprice::DECIMAL(18,6))::DOUBLE,
                   sum((l_extendedprice::DECIMAL(19,6)) * (l_extendedprice::DECIMAL(19,6)))::DOUBLE
            FROM lineitem
            UNION ALL
            SELECT 'l_discount', count(*), count(l_discount),
                   min(l_discount::DOUBLE), max(l_discount::DOUBLE),
                   sum(l_discount::DECIMAL(18,6))::DOUBLE,
                   sum((l_discount::DECIMAL(19,6)) * (l_discount::DECIMAL(19,6)))::DOUBLE
            FROM lineitem
            UNION ALL
            SELECT 'l_tax', count(*), count(l_tax),
                   min(l_tax::DOUBLE), max(l_tax::DOUBLE),
                   sum(l_tax::DECIMAL(18,6))::DOUBLE,
                   sum((l_tax::DECIMAL(19,6)) * (l_tax::DECIMAL(19,6)))::DOUBLE
            FROM lineitem
        )
        SELECT "column", n_rows, n_rows - n AS n_null, mn AS min, mx AS max,
               CASE WHEN n > 0 THEN floor((s1 / n) * 1000000) / 1000000 END AS mean,
               CASE WHEN n > 1 THEN
                   floor(sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) * 1000000)
                       / 1000000
               END AS stddev
        FROM moments ORDER BY "column"
    """,
    "profiling_correlations": _corr_oracle_sql(),
    # equi-width histogram replica: same (mn, mx, w) doubles, same
    # floor-assignment with last-bucket clamp, same 6dp edge display;
    # the full spine keeps empty buckets visible
    "events_value_histogram": """
        WITH b AS (
            -- mirror the operator's finiteness screen: NaN/±inf are
            -- excluded BEFORE the bounds pass (DuckDB sorts NaN
            -- largest, so an unfiltered max would diverge from the
            -- operator the moment a non-finite value enters events)
            SELECT min(value::DOUBLE) AS mn, max(value::DOUBLE) AS mx,
                   (max(value::DOUBLE) - min(value::DOUBLE)) / 8.0 AS w
            FROM events WHERE value IS NOT NULL AND isfinite(value::DOUBLE)
        ), binned AS (
            -- w = 0 (constant column) bins everything to 0, matching
            -- the operator's branch: DuckDB's x/0.0 is NULL, which
            -- would silently zero every spine count instead
            SELECT CASE WHEN b.w = 0 THEN CAST(0 AS BIGINT)
                        ELSE least(CAST(floor((value::DOUBLE - b.mn) / b.w) AS BIGINT),
                                   CAST(7 AS BIGINT)) END AS bin
            FROM events, b
            WHERE value IS NOT NULL AND isfinite(value::DOUBLE)
        ), cnt AS (
            SELECT bin, count(*) AS n FROM binned GROUP BY bin
        ), spine AS (
            SELECT unnest(range(0, 8)) AS bin
        )
        SELECT s.bin,
               floor((b.mn + s.bin * b.w) * 1000000) / 1000000 AS lo,
               floor((b.mn + (s.bin + 1) * b.w) * 1000000) / 1000000 AS hi,
               coalesce(c.n, 0)::BIGINT AS n
        FROM spine s CROSS JOIN b LEFT JOIN cnt c ON c.bin = s.bin
        ORDER BY s.bin
    """,
    "profiling_null_profile": """
        WITH src AS (
            SELECT user_id, event_type,
                   CASE WHEN event_type != 'error' THEN value END AS value
            FROM events
        )
        SELECT * FROM (
            SELECT 'user_id' AS "column", count(*)::BIGINT AS n_rows,
                   (count(*) - count(user_id))::BIGINT AS n_null,
                   floor(((count(*) - count(user_id))::DOUBLE / count(*)) * 1000000.0)
                       / 1000000.0 AS null_share,
                   count(DISTINCT user_id)::BIGINT AS n_distinct
            FROM src
            UNION ALL
            SELECT 'event_type', count(*),
                   count(*) - count(event_type),
                   floor(((count(*) - count(event_type))::DOUBLE / count(*)) * 1000000.0)
                       / 1000000.0,
                   count(DISTINCT event_type)
            FROM src
            UNION ALL
            SELECT 'value', count(*),
                   count(*) - count(value),
                   floor(((count(*) - count(value))::DOUBLE / count(*)) * 1000000.0)
                       / 1000000.0,
                   count(DISTINCT value)
            FROM src
        ) ORDER BY "column"
    """,
    # profiling_hll_invariants RETIRED r10 — the union+estimate+envelope
    # contract rides in streaming_ndv_monitor and
    # events_daily_uniques_rollup; the 2% merged-vs-single invariant is
    # pytest-pinned (test_hll_sketches_merge_losslessly)
    # C4 line/page rules over the line-ified corpus; the kept-line
    # predicate (terminal punct / >=3 words / no blocklist term) runs
    # as list_filter so DuckDB sees the same per-line semantics
    "text_c4_rules": """
        WITH toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ), lines AS (
            SELECT doc_id, i,
                   array_to_string(list_slice(t, i * 6 + 1, i * 6 + 6), ' ') ||
                   CASE WHEN (doc_id + i) % 3 != 0 THEN '.' ELSE '' END AS line
            FROM (SELECT doc_id, t,
                         unnest(range(greatest(CAST(ceil(len(t) / 6.0) AS BIGINT), 1))) AS i
                  FROM toks)
        ), pages AS (
            SELECT doc_id,
                   string_agg(line, chr(10) ORDER BY i) ||
                   CASE WHEN doc_id % 7 = 0
                        THEN chr(10) || 'A planted { brace } line.'
                        ELSE '' END AS text
            FROM lines GROUP BY doc_id
        ), split AS (
            SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM pages
        ), kept AS (
            SELECT doc_id, text, ls,
                   list_filter(ls, l ->
                       regexp_matches(l, '[.!?]["'')\\]]?\\s*$')
                       AND len(regexp_split_to_array(trim(l), '\\s+')) >= 3
                       AND NOT contains(lower(l), 'javascript')) AS kl
            FROM split
        ), final AS (
            SELECT doc_id, text, ls, kl, array_to_string(kl, chr(10)) AS clean
            FROM kept
        )
        SELECT doc_id,
               md5(clean) AS clean_fp,
               CAST(len(ls) AS BIGINT) AS c4_n_lines,
               CAST(len(kl) AS BIGINT) AS c4_n_kept_lines,
               CAST(len(regexp_extract_all(clean, '[.!?]')) AS BIGINT) AS c4_n_sentences,
               (len(regexp_extract_all(clean, '[.!?]')) >= 5
                AND NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{')) AS c4_keep
        FROM final ORDER BY doc_id
    """,
    "sample_epoch_mixture": """
        WITH c AS (
            SELECT source, count(*) AS n FROM documents GROUP BY source
        ), t AS (
            SELECT source, n,
                   CASE source WHEN 'src0' THEN 63 WHEN 'src1' THEN 10
                               WHEN 'src2' THEN 140 ELSE 0 END AS target
            FROM c
        ), ranked AS (
            SELECT d.doc_id, d.source,
                   row_number() OVER (PARTITION BY d.source
                                      ORDER BY md5(d.doc_id::VARCHAR || ''), d.doc_id) AS r,
                   t.target // t.n AS n_full, t.target % t.n AS rem
            FROM documents d JOIN t USING (source)
        ), counted AS (
            SELECT doc_id, source,
                   n_full + CASE WHEN r <= rem THEN 1 ELSE 0 END AS n_epochs
            FROM ranked
        )
        SELECT doc_id, source, CAST(e AS INTEGER) AS epoch
        FROM counted, unnest(range(0, n_epochs)) u(e)
        WHERE n_epochs > 0
        ORDER BY doc_id, epoch
    """,
    # per-language surprisal terciles; quantile_cont matches Spark's
    # percentile on identical 6dp-grid inputs (the deciles precedent),
    # and a bucket flip would need adjacent data values within one ULP
    # of a tercile edge — impossible on the 1e-6 grid
    "text_perplexity_buckets": """
        WITH base AS (
            SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS l
            FROM documents
        ), exploded AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(l)+1),
                                         i -> {'pos': i, 'tok': l[i]})) AS s
            FROM base
        ), toks AS (
            SELECT doc_id, s.pos AS pos, s.tok AS tok
            FROM exploded WHERE len(s.tok) > 0
        ), counts AS (
            SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
        ), total AS (
            SELECT count(*)::DOUBLE AS n FROM toks
        ), lp AS (
            SELECT t.doc_id, t.pos, -ln(c.cnt::DOUBLE / total.n) AS lp
            FROM toks t JOIN counts c USING (tok), total
        ), agged AS (
            SELECT doc_id, list(lp ORDER BY pos) AS lps
            FROM lp GROUP BY doc_id
        ), scored AS (
            SELECT a.doc_id, d.lang,
                   CAST(len(a.lps) AS BIGINT) AS n_toks,
                   floor((list_sum(a.lps) / len(a.lps)) * 1000000.0) / 1000000.0
                       AS avg_surprisal
            FROM agged a JOIN documents d USING (doc_id)
        ), ordered AS (
            SELECT lang, list(avg_surprisal ORDER BY avg_surprisal) AS vs,
                   count(*) AS n
            FROM scored GROUP BY lang
        ), b AS (
            -- Spark's percentile interpolation is lower + g*(upper-lower)
            -- (NOT (1-g)*lower + g*upper: quantile_cont's form differs in
            -- the last bit and can land BELOW a duplicated lower value,
            -- flipping boundary docs — observed at sf0.1)
            SELECT lang,
                   vs[CAST(floor((n-1) * 0.3333333333333333) AS BIGINT) + 1]
                     + ((n-1) * 0.3333333333333333
                        - floor((n-1) * 0.3333333333333333))
                       * (vs[least(CAST(floor((n-1) * 0.3333333333333333) AS BIGINT) + 2, n)]
                          - vs[CAST(floor((n-1) * 0.3333333333333333) AS BIGINT) + 1]) AS b1,
                   vs[CAST(floor((n-1) * 0.6666666666666666) AS BIGINT) + 1]
                     + ((n-1) * 0.6666666666666666
                        - floor((n-1) * 0.6666666666666666))
                       * (vs[least(CAST(floor((n-1) * 0.6666666666666666) AS BIGINT) + 2, n)]
                          - vs[CAST(floor((n-1) * 0.6666666666666666) AS BIGINT) + 1]) AS b2
            FROM ordered
        )
        SELECT s.doc_id, s.lang, s.n_toks, s.avg_surprisal,
               CASE WHEN s.avg_surprisal > b.b2 THEN 'tail'
                    WHEN s.avg_surprisal > b.b1 THEN 'middle'
                    ELSE 'head' END AS ppl_bucket
        FROM scored s JOIN b USING (lang)
        ORDER BY s.doc_id
    """,
    # the full-ladder flagship: every stage reuses an already-proven
    # replica (c4 list_filter, distinct-doc line df, min-id fingerprint
    # window, md5-prefix coin), composed end-to-end
    "pretraining_curation_pipeline": """
        WITH toksrc AS (
            SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM documents
        ), lines0 AS (
            SELECT doc_id, source, i,
                   array_to_string(list_slice(t, i * 6 + 1, i * 6 + 6), ' ') ||
                   CASE WHEN (doc_id + i) % 3 != 0 THEN '.' ELSE '' END AS line
            FROM (SELECT doc_id, source, t,
                         unnest(range(greatest(CAST(ceil(len(t) / 6.0) AS BIGINT), 1))) AS i
                  FROM toksrc)
        ), pages AS (
            SELECT doc_id, source,
                   string_agg(line, chr(10) ORDER BY i) ||
                   CASE WHEN doc_id % 7 = 0
                        THEN chr(10) || 'A planted { brace } line.'
                        ELSE '' END AS text
            FROM lines0 GROUP BY doc_id, source
        ), c4 AS (
            SELECT doc_id, source, text,
                   list_filter(string_split(text, chr(10)), l ->
                       regexp_matches(l, '[.!?]["'')\\]]?\\s*$')
                       AND len(regexp_split_to_array(trim(l), '\\s+')) >= 3
                       AND NOT contains(lower(l), 'javascript')) AS kl
            FROM pages
        ), kept AS (
            SELECT doc_id, source, array_to_string(kl, chr(10)) AS text
            FROM c4
            WHERE len(regexp_extract_all(array_to_string(kl, chr(10)), '[.!?]')) >= 5
              AND NOT contains(lower(text), 'lorem ipsum')
              AND NOT contains(text, '{')
        ), klines AS (
            SELECT doc_id, source, i AS line_no, ls[i + 1] AS line
            FROM (SELECT doc_id, source, ls, unnest(range(len(ls))) AS i
                  FROM (SELECT doc_id, source, string_split(text, chr(10)) AS ls
                        FROM kept))
        ), dup AS (
            SELECT line
            FROM (SELECT DISTINCT line, doc_id FROM klines
                  WHERE length(trim(line)) >= 1)
            GROUP BY line HAVING count(*) >= 2
        ), rebuilt AS (
            SELECT k.doc_id, k.source,
                   coalesce(string_agg(CASE WHEN d.line IS NULL THEN k.line END,
                                       chr(10) ORDER BY k.line_no), '') AS text
            FROM klines k LEFT JOIN dup d ON k.line = d.line
            GROUP BY k.doc_id, k.source
        ), dd AS (
            SELECT doc_id, source, text, fp
            FROM (SELECT *, md5(text) AS fp,
                         min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
                  FROM rebuilt)
            WHERE doc_id = keep_id
        ), sampled AS (
            SELECT * FROM dd
            WHERE substr(md5(doc_id::VARCHAR || 'mix'), 1, 8) < '80000000'
        )
        SELECT source, count(*) AS n_docs,
               CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
                             ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                        END) AS BIGINT) AS total_tokens,
               md5(string_agg(fp, '' ORDER BY fp)) AS corpus_fp
        FROM sampled GROUP BY source ORDER BY source
    """,
    # events_heavy_hitters_sketch RETIRED r10 — frequency questions
    # carried by the exact-matched CMS pair (profiling_cms_frequencies +
    # streaming_heavyhitter_monitor); approx_top_k engine path
    # pytest-pinned (test_approx_heavy_hitters_exact_regime_and_ties)
    # audio-rung fake fingerprint: salted sha256 folded to signed int64
    # stateful-streaming sessionization, availableNow replay: ONE
    # micro-batch, so the processing-time timeout never fires and the
    # emitted set is exactly the CLOSED sessions — the µs-gap batch
    # sessionize minus each user's last (still-open) session
    "streaming_sessionize": """
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, ts,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
            FROM flagged
        ), sess AS (
            SELECT user_id, sess_id, count(*) AS n_events,
                   epoch_us(min(ts)) AS session_start_us,
                   epoch_us(max(ts)) AS session_end_us
            FROM numbered GROUP BY user_id, sess_id
        ), closed AS (
            SELECT *, max(sess_id) OVER (PARTITION BY user_id) AS last_sess
            FROM sess
        )
        SELECT user_id, session_start_us, session_end_us, n_events
        FROM closed WHERE sess_id < last_sess
        ORDER BY user_id, session_start_us
    """,
    # the VIDEO dedup rung: fake frame hashes (sha256 hex chaining),
    # the exact pigeonhole banding (5 × 12-bit chunks for hamming ≤ 4 —
    # a replica of dedup.hamming_pairs' construction, which is EXACT,
    # so both engines mine identical pair sets), xor/bit_count verify,
    # and the frame-set-overlap rollup with the fid pack/unpack
    "multimodal_video_near_dup": f"""
        WITH src AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM documents
            WHERE doc_id < 20
        ), base AS (
            SELECT doc_id, sha256('vfp:' || text) AS bx FROM src
        ), nf AS (
            SELECT doc_id, bx,
                   4 + ({_hex_to_bigint_sql('bx', 2)} % 5) AS n
            FROM base
        ), fx AS (
            SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
                   sha256(bx || '#' || i::VARCHAR) AS hx
            FROM nf, unnest(range(n)) t(i)
        ), f AS (
            SELECT doc_id, frame_idx,
                   doc_id * 1024 + frame_idx AS fid,
                   {_hex_to_bigint_sql('hx', 16, 'HUGEINT')} AS uval
            FROM fx
        ), fh AS (
            SELECT fid,
                   CAST(CASE WHEN uval >= 9223372036854775808::HUGEINT
                             THEN uval - 18446744073709551616::HUGEINT
                             ELSE uval END AS BIGINT) AS h,
                   uval
            FROM f
        ), chunks AS (
            SELECT fid, h, t.c,
                   CAST((uval // (CASE t.c WHEN 0 THEN 1::HUGEINT
                                          WHEN 1 THEN 4096::HUGEINT
                                          WHEN 2 THEN 16777216::HUGEINT
                                          WHEN 3 THEN 68719476736::HUGEINT
                                          ELSE 281474976710656::HUGEINT END))
                        % 4096 AS INTEGER) AS cv
            FROM fh, unnest(range(5)) t(c)
        ), pairs AS (
            SELECT DISTINCT a.fid AS fid_a, b.fid AS fid_b,
                            a.h AS ha, b.h AS hb
            FROM chunks a JOIN chunks b ON a.c = b.c AND a.cv = b.cv
                                       AND a.fid < b.fid
        ), verified AS (
            SELECT fid_a, fid_b FROM pairs
            WHERE bit_count(xor(ha, hb)) <= 4
        ), matched AS (
            SELECT least(fid_a // 1024, fid_b // 1024) AS id_a,
                   greatest(fid_a // 1024, fid_b // 1024) AS id_b,
                   CASE WHEN fid_a // 1024 <= fid_b // 1024
                        THEN fid_a % 1024 ELSE fid_b % 1024 END AS fa
            FROM verified
            WHERE fid_a // 1024 != fid_b // 1024
        ), agg AS (
            SELECT id_a, id_b, count(DISTINCT fa) AS n_match
            FROM matched GROUP BY id_a, id_b
        ), counts AS (
            SELECT doc_id, count(*) AS nfr FROM f GROUP BY doc_id
        )
        SELECT a.id_a, a.id_b, CAST(a.n_match AS BIGINT) AS n_match,
               a.n_match::DOUBLE / least(ca.nfr, cb.nfr) AS overlap
        FROM agg a
        JOIN counts ca ON ca.doc_id = a.id_a
        JOIN counts cb ON cb.doc_id = a.id_b
        WHERE a.n_match::DOUBLE / least(ca.nfr, cb.nfr) >= 0.5
        ORDER BY id_a, id_b
    """,
    "multimodal_audio_fp": f"""
        WITH h AS (
            SELECT doc_id, sha256('afp:' || text) AS hx FROM documents
        ), v AS (
            SELECT doc_id, {_hex_to_bigint_sql('hx', 16, 'HUGEINT')} AS val FROM h
        )
        SELECT doc_id,
               CAST(CASE WHEN val >= 9223372036854775808::HUGEINT
                         THEN val - 18446744073709551616::HUGEINT
                         ELSE val END AS BIGINT) AS afp,
               'fake' AS decoder
        FROM v ORDER BY doc_id
    """,
    "profiling_quantile_invariants": _quantile_invariants_oracle_sql(),
    # the with_canonical_url regex chain, replicated step-for-step in
    # the shared _CANON_URL_CTES fragment (every pattern anchored or
    # single-match, so DuckDB's non-global regexp_replace matches
    # Spark's global one), over the same one-variant-per-document
    # synthesized messy URLs
    "text_domain_rollup": f"""
        WITH {_CANON_URL_CTES}
        SELECT registered_domain,
               count(*)::BIGINT AS n_docs,
               count(DISTINCT canonical_url)::BIGINT AS n_pages,
               floor((count(*)::DOUBLE /
                      (SELECT count(*) FROM documents)) * 1000000) / 1000000
                   AS share
        FROM named GROUP BY registered_domain ORDER BY registered_domain
    """,
    # temperature mixing over the SAME domain strata: the shared URL
    # CTEs feed the sample_temperature oracle shape (sqrt weights
    # summed in sorted-stratum order, the shared md5-prefix coin)
    "sample_domain_temperature": _temperature_mix_sql(
        "named", "registered_domain",
        with_prefix=f"WITH {_CANON_URL_CTES}, ",
    ),
    "sample_hash_split": _hash_split_oracle_sql(),
    "streaming_quantile_monitor": _quantile_invariants_oracle_sql(
        ("stream_within_eps",)
    ),
    # the HLL-invariant convention in streaming position: n_rows and
    # the exact NDV pinned exactly (both engines compute COUNT
    # DISTINCT exactly), the sketch-envelope boolean asserted TRUE
    "streaming_ndv_monitor": """
        SELECT 'event_type' AS "column", count(*)::BIGINT AS n_rows,
               count(DISTINCT event_type)::BIGINT AS exact_ndv,
               true AS est_within_5pct
        FROM events
        UNION ALL
        SELECT 'user_id', count(*)::BIGINT,
               count(DISTINCT user_id)::BIGINT, true
        FROM events
        ORDER BY "column"
    """,
    # Count-Min point queries are EXACT-matched (not enveloped): the
    # row hashes are md5-derived, so DuckDB rebuilds the merged
    # counter table cell-for-cell — min_i counter[i][h_i(key)] — with
    # the same '0x'||substr(md5(...),1,15) arithmetic the hash_split /
    # minhash oracles use. merged_eq_single is asserted TRUE (integer
    # cell sums commute; the Spark side computes both paths). The
    # batch invariant row and the streaming monitor share ONE builder
    # — the streamed state merges to the identical counter table, so
    # the two rows differ only in the asserted-invariant column.
    "profiling_cms_frequencies": _cms_oracle_sql(with_invariant=True),
    "streaming_heavyhitter_monitor": _cms_oracle_sql(with_invariant=False),
    # CM inner-product join-size estimate (r11): rebuild BOTH counter
    # tables with the operator's md5 row hashes (batching is invisible
    # — cell sums commute, so the single-pass table IS the merged
    # two-batch table), take min over per-row product sums with the
    # short-row-counts-as-zero rule, and ride the exact join count
    # alongside. Every value is integer arithmetic — exact match.
    "profiling_cms_join_size": """
        WITH rows_i AS (SELECT unnest(range(4)) AS row_i),
        ca AS (
            SELECT row_i,
                   ('0x' || substr(md5(row_i::VARCHAR || ':' || o_custkey::VARCHAR), 1, 15))::BIGINT
                       % 1024 AS bucket,
                   count(*)::BIGINT AS cnt_a
            FROM orders, rows_i
            WHERE o_custkey IS NOT NULL
            GROUP BY 1, 2
        ), cb AS (
            SELECT row_i,
                   ('0x' || substr(md5(row_i::VARCHAR || ':' || c_custkey::VARCHAR), 1, 15))::BIGINT
                       % 1024 AS bucket,
                   count(*)::BIGINT AS cnt_b
            FROM customer, rows_i
            WHERE c_custkey IS NOT NULL
            GROUP BY 1, 2
        ), prods AS (
            SELECT row_i, CAST(sum(cnt_a * cnt_b) AS BIGINT) AS row_prod
            FROM ca JOIN cb USING (row_i, bucket)
            GROUP BY 1
        ), est AS (
            SELECT CAST(CASE WHEN count(*) < 4 THEN 0 ELSE min(row_prod) END AS BIGINT)
                       AS join_size_est
            FROM prods
        ), na AS (
            SELECT count(o_custkey)::BIGINT AS n_a FROM orders
        ), nb AS (
            SELECT count(c_custkey)::BIGINT AS n_b FROM customer
        ), tru AS (
            SELECT count(*)::BIGINT AS join_size_true
            FROM orders JOIN customer ON o_custkey = c_custkey
        )
        SELECT est.join_size_est, na.n_a, nb.n_b, tru.join_size_true,
               (est.join_size_est >= tru.join_size_true) AS is_upper_bound
        FROM est, na, nb, tru
    """,
    # directed Broder containment over documents + planted excerpts.
    # NOT factored out of _NGRAM_JACCARD: that template backs a
    # prior-round frozen row, and byte-identity of already-verified
    # oracle text outranks DRY here (the shared-fragment rule applies
    # to NEW siblings, e.g. _cms_oracle_sql). The shingle CTEs differ
    # anyway (source = derived corpus, not documents).
    "dedup_containment": """
        WITH toks0 AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t, text
            FROM documents
        ), corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id,
                   array_to_string(list_slice(t, 3, 14), ' ') AS text
            FROM toks0 WHERE doc_id % 11 = 0 AND len(t) >= 20
        ), toks AS (
            SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
            FROM corpus
        ), sh0 AS (
            SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
            FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
                  FROM toks WHERE len(t) >= 3)
        ), sh AS (
            -- replicate the operator's max_doc_frequency=1000 cap so
            -- the oracle stays correct even if a boilerplate shingle
            -- ever crosses it (max df measured 26 at sf0.1, but the
            -- cap is SEMANTICS, not an assumption to ride)
            SELECT doc_id, shingle FROM sh0
            WHERE shingle IN (
                SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 1000
            )
        ), sizes AS (
            SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id
        ), common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), directed AS (
            SELECT id_a, id_b, common FROM common
            UNION ALL
            SELECT id_b AS id_a, id_a AS id_b, common FROM common
        ), scored AS (
            SELECT d.id_a AS id_contained, d.id_b AS id_container,
                   floor((d.common / s.set_size) * 1000000.0) / 1000000.0 AS containment
            FROM directed d JOIN sizes s ON s.doc_id = d.id_a
        )
        SELECT id_contained, id_container, containment
        FROM scored WHERE containment >= 0.9
        ORDER BY id_contained, id_container
    """,
    # the HLL-invariant convention for the re-aggregable NDV cube:
    # n_days / n_rows / exact_ndv pinned exactly per rollup group (and
    # for the __all__ grand total), the 5% estimate envelope asserted
    # TRUE (the estimate value is engine-specific DataSketches state)
    "events_daily_uniques_rollup": """
        WITH per_type AS (
            SELECT event_type,
                   count(DISTINCT date_trunc('day', ts))::BIGINT AS n_days,
                   count(*)::BIGINT AS n_rows,
                   count(DISTINCT user_id)::BIGINT AS exact_ndv
            FROM events WHERE event_type IS NOT NULL GROUP BY event_type
            UNION ALL
            SELECT '__all__',
                   count(DISTINCT date_trunc('day', ts))::BIGINT,
                   count(*)::BIGINT,
                   count(DISTINCT user_id)::BIGINT
            FROM events WHERE event_type IS NOT NULL
        )
        SELECT event_type, n_days, n_rows, exact_ndv,
               true AS est_within_5pct
        FROM per_type ORDER BY event_type
    """,
    # Holt [level, trend] fold replica — the _EWMA_SQL convention with
    # a 2-element ARRAY accumulator (list_reduce inits from the first
    # element [n_1, 0.0] and folds left, matching Spark's aggregate
    # with array init; arrays, not structs — DuckDB 1.0 struct-field
    # lambdas evaluate against a partially-updated accumulator).
    # Coefficients 0.25/0.75/0.0625/0.9375 are exactly representable,
    # so the IEEE chain is bit-identical.
    "events_holtwinters_seasonal": _HOLT_WINTERS_SQL,
    # the streaming monitor replays the backlog through the SAME
    # complete-mode count aggregate + dense_counts spine +
    # holt_winters_from_counts fold, so the batch fold SQL is its
    # oracle verbatim (the _EWMA_SQL convention; ONE literal owns the
    # text both rows verify against)
    "streaming_holtwinters_monitor": _HOLT_WINTERS_SQL,
    "events_holt_trend": """
        WITH counts AS (
            SELECT event_type AS key, date_trunc('hour', ts) AS bucket_ts,
                   count(*)::DOUBLE AS n
            FROM events GROUP BY 1, 2
        ), packed AS (
            SELECT key, count(*) AS n_buckets,
                   strftime(max(bucket_ts), '%Y-%m-%d %H:%M:%S') AS last_bucket_ts,
                   list(n ORDER BY bucket_ts) AS vals
            FROM counts GROUP BY key
        ), folded AS (
            SELECT key, n_buckets, last_bucket_ts,
                   list_reduce(
                       list_transform(vals, v -> [v, 0.0::DOUBLE]),
                       (acc, x) -> [
                           x[1] * 0.25::DOUBLE + (acc[1] + acc[2]) * 0.75::DOUBLE,
                           (x[1] - acc[1]) * 0.0625::DOUBLE + acc[2] * 0.9375::DOUBLE
                       ]
                   ) AS st
            FROM packed
        )
        SELECT key AS event_type, n_buckets, last_bucket_ts,
               floor(st[1] * 1000000) / 1000000 AS level,
               floor(st[2] * 1000000) / 1000000 AS trend,
               floor((st[1] + st[2]) * 1000000) / 1000000 AS forecast_next
        FROM folded ORDER BY event_type
    """,
}

# RETIRED_R9 analytics rows (registry consolidation, VERDICT r8 #2):
# their SQL stays in ANALYTICS_SQL — q-functions remain importable and
# events_hourly_rollup stays bench-tracked via BENCH_RETIRED — but the
# registry contract is carried by the covering rows (see
# tests/test_plans.py RETIRED_R9 for the covered-by map), so the
# oracle keys spliced in via **ANALYTICS_SQL come back out here.
for _retired in (
    "q11_important_stock", "q13_customer_distribution",
    "q19_discount_revenue", "q22_idle_customers", "events_hourly_rollup",
):
    ORACLES.pop(_retired, None)
del _retired
