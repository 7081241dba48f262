"""curation: seeded documents with planted exact and near duplicates go
through the five curation stages, one pass per timed op.

A pass reads the input files (``s3.read_parquet``), scores language and
quality (``operators.text.with_lang_id``, ``with_quality_score``),
removes exact duplicates (``operators.dedup.dedup_exact``) and one side
of every near-duplicate pair (``operators.dedup.minhash_lsh_pairs``),
keeps a deterministic half (``operators.sampling.hash_sample``) and
writes the result partitioned by source (``s3.to_parquet``). The scored
and the exact-deduplicated frames are checkpointed, as a pipeline
between stages would. Every pass reads the same input and writes its
own output prefix.

A pass is about 30 short Spark jobs whose time is mostly fixed per-job
work, whatever the corpus size, and it keeps getting faster over its
first several runs. So warm-up runs two passes over a small separate
corpus, which warms the same code for less time than one full pass,
and the workload runs on two cores: its jobs' tasks are tiny, and on
four cores the passes were no faster.

The check recomputes, without Spark, the planted exact-duplicate
clusters, the planted near pairs and their exact 3-shingle Jaccard, and
the hash-sample rule, and compares the pairs each pass found and the
doc ids each pass wrote.
"""

from __future__ import annotations

import hashlib
import os
from typing import Any, List, Set, Tuple

import numpy as np

import gen

CPUS = 2
N_DOCS = 6_000
N_FILES = 8
EXACT_FRAC = 0.06
NEAR_FRAC = 0.04
SAMPLE_FRACTION = 0.5
SALT = "perfbench"
WARM_DOCS = 1_500
WARMUP_PASSES = 2
OUT_COLS = ["doc_id", "source", "text", "lang_pred", "lang_score", "quality_score"]


def generate(run: Any) -> None:
    def make() -> None:
        rng = np.random.default_rng([run.seed, 1])
        table, run.truth = gen.documents(rng, N_DOCS, EXACT_FRAC, NEAR_FRAC)
        run.docs_path = os.path.join(run.inputs, "docs")
        run.docs_bytes = gen.write_files(table, run.docs_path, N_FILES)
        warm, _ = gen.documents(np.random.default_rng([run.seed, 2]), WARM_DOCS, EXACT_FRAC, NEAR_FRAC)
        run.warm_path = os.path.join(run.inputs, "warm")
        gen.write_files(warm, run.warm_path, N_FILES)

    run.generate(make)
    run.passes: List[Tuple[str, Any]] = []  # (output prefix, found pairs) per timed pass


def _pass(run: Any, path: str, out: str) -> Any:
    import aws_data_wrangler_spark as wr
    from aws_data_wrangler_spark.operators import dedup, sampling, text

    docs = wr.s3.read_parquet(path)
    scored = run.force(text.with_quality_score(text.with_lang_id(docs)), "checkpoint")
    kept = run.force(dedup.dedup_exact(scored), "checkpoint")
    pairs = run.force(dedup.minhash_lsh_pairs(kept), "pandas")
    drop = run.spark.createDataFrame([(int(i),) for i in pairs["id_b"]], "doc_id bigint")
    survivors = kept.join(drop, "doc_id", "left_anti")
    sample = sampling.hash_sample(survivors, SAMPLE_FRACTION, salt=SALT).select(*OUT_COLS)
    wr.s3.to_parquet(sample, out, dataset=True, partition_cols=["source"], mode="overwrite")
    return pairs


def setup(run: Any) -> None:
    """Nothing to build: the input files are the corpus."""


def warmup(run: Any) -> None:
    for k in range(WARMUP_PASSES):
        out = os.path.join(run.lake, f"warm-{k}")
        run.op(0, lambda: _pass(run, run.warm_path, out), timed=False)


def next_op(run: Any, i: int) -> None:
    out = os.path.join(run.lake, f"pass-{i:03d}")
    run.input_bytes += run.docs_bytes
    pairs = run.op(N_DOCS, lambda: _pass(run, run.docs_path, out), kind="pass")
    if pairs is not None:
        run.passes.append((out, pairs))


# ---------------------------------------------------------------- checks

def _shingles(text_value: str) -> Set[Tuple[str, ...]]:
    toks = text_value.strip().split()
    return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}


def _kept_by_sample(doc_id: int) -> bool:
    threshold = format(min(int(round(SAMPLE_FRACTION * 16**8)), 16**8 - 1), "08x")
    return hashlib.md5(f"{doc_id}{SALT}".encode()).hexdigest()[:8] < threshold


def check(run: Any) -> int:
    """Number of timed passes whose pairs or output differ from the truth."""
    import duckdb

    texts = run.truth["texts"]
    first_of = {}
    for doc_id, t in enumerate(texts):
        first_of.setdefault(t, doc_id)
    clusters = run.truth["exact_clusters"]
    if any(first_of[texts[c[0]]] != min(c) for c in clusters):
        raise AssertionError("planted exact clusters are not the duplicate groups")
    want_pairs = {}
    for a, b in run.truth["near_pairs"]:
        sa, sb = _shingles(texts[a]), _shingles(texts[b])
        want_pairs[(a, b)] = len(sa & sb) / len(sa | sb)
    survivors = set(first_of.values()) - {b for _, b in want_pairs}
    want_ids = sorted(d for d in survivors if _kept_by_sample(d))

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    bad = 0
    for out, pairs in run.passes:
        found = {(int(a), int(b)): float(j) for a, b, j in pairs[["id_a", "id_b", "jaccard"]].itertuples(index=False)}
        pairs_ok = found.keys() == want_pairs.keys() and all(
            abs(found[k] - want_pairs[k]) <= 1e-6 for k in found
        )
        got_ids = [
            r[0]
            for r in con.execute(
                f"SELECT doc_id FROM read_parquet('{out}/*/*.parquet') ORDER BY doc_id"
            ).fetchall()
        ]
        if not pairs_ok or got_ids != want_ids:
            bad += 1
            if bad <= 3:
                run.errors.append(
                    f"{os.path.basename(out)}: pairs {len(found)} (want {len(want_pairs)}, ok={pairs_ok}), "
                    f"ids {len(got_ids)} (want {len(want_ids)})"
                )
    con.close()
    return bad


def stored_bytes(run: Any) -> int:
    return sum(gen.dir_bytes(out) for out, _ in run.passes)
