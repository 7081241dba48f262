"""Deduplication operators for training-data pipelines.

Eight strategies, all shuffle-disciplined for 100 TB:

- exact / normalized: one hash-groupBy (map-side partial agg) — the
  cheapest possible plan; no pair materialization ever.
- n-gram Jaccard: shingle → distinct → equi-self-join on shingle →
  per-pair count. The join key is the shingle, so only documents
  sharing a shingle ever meet; super-frequent shingles are dropped
  (document-frequency cap) to bound the join fan-out — the standard
  skew control for near-dup mining.
- MinHash + LSH: one materialized per-row shingle-set table (id, sh)
  feeds both the per-doc signature (k xxhash64 slots, one codegen
  groupBy) and the exact-Jaccard verify; candidate pairs from an
  equi-join on (band, band-hash) buckets, materialized once; the
  verify broadcasts the distinct candidate ids only and shuffles only
  candidate documents' sets — output precision 1.0, recall governed by
  (bands, rows). Rows sharing an id are one document. The result
  carries its set and candidate tables for ``release_batch_state``.
  Incremental batch-vs-corpus variant with a persistable corpus-state
  artifact and the same per-batch cache hygiene.
- SimHash: 64-bit signature from per-token hash bit votes; candidate
  pairs via 4×16-bit band pigeonhole (hamming ≤ 3 ⇒ some band equal),
  verified with ``bit_count(xor) <= k``.
- exact substring spans (``duplicated_spans``): maximal cross-document
  duplicated token runs — the passage-level tier below whole-document
  mining.
- duplicated lines (``duplicated_lines`` / ``remove_duplicated_lines``):
  C4-style boilerplate-line removal — the middle rung of the
  granularity ladder (document > line > token span); one line-keyed
  hash agg + equi-join, doc-local reassembly.
- embedding cosine: pair mining above a cosine threshold; lossless
  exact default, LSH-bucketed / blocked-GEMM engines opt-in (see
  similarity.py for the ANN scale path).
- SemDeDup (``semdedup`` / ``semdedup_prune``): cluster-then-prune
  semantic dedup — k-means cells bound the pair fan-out, connected
  components group duplicates, one representative kept per group.

No driver-side collect anywhere; everything is a DataFrame plan.
"""

from __future__ import annotations

import warnings
from typing import NamedTuple, Optional, Union

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aws_data_wrangler_spark.functions import trunc_digits

# sentinel: distinguishes "caller left the df-cap at its default" from an
# explicit opt-in — the default cap is surfaced with a warning so callers
# relying on strict exact-Jaccard semantics see the routing decision
_DF_CAP_DEFAULT: object = object()


def _normalized(text) -> "F.Column":
    return F.regexp_replace(F.lower(text), r"[^a-z0-9 ]", "")


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", normalize: bool = False
) -> DataFrame:
    """Group identical documents: (content_hash, keep_id, dup_cnt).

    ``keep_id`` is the minimum id — the canonical representative; rows
    with dup_cnt > 1 are duplicate clusters. Single hash-aggregate:
    partial aggregation runs map-side, so the shuffle carries one row
    per distinct document, not per input row.
    """
    text = _normalized(F.col(text_col)) if normalize else F.col(text_col)
    return (
        df.select(F.md5(text).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", normalize: bool = False
) -> DataFrame:
    """Keep one representative (min id) per distinct content."""
    keepers = exact_duplicates(df, id_col, text_col, normalize).select(
        F.col("keep_id").alias(id_col)
    )
    # broadcast-friendly semi join; at 100 TB keepers ≈ distinct docs,
    # so this is a shuffle semi-join on the id — AQE picks the strategy.
    return df.join(keepers, on=id_col, how="left_semi")


def word_shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_doc_frequency: Optional[int] = None,
    hashed: bool = False,
) -> DataFrame:
    """Distinct (id, shingle) pairs of ``n``-word shingles.

    ``max_doc_frequency`` drops shingles appearing in more than that
    many documents — the fan-out/skew control for the self-join phase.

    ``hashed=True`` represents each shingle as a 64-bit
    ``xxhash64(tok_1, …, tok_n)`` instead of the concatenated string:
    no per-shingle string allocation, cheaper downstream set ops
    (long arrays vs string arrays), and the MinHash signature can use
    the value directly as its hash base. Shingle identity then carries
    a ~n_shingles²/2⁶⁴ collision probability per compared pair —
    vanishing in practice, and a collision would surface loudly as an
    exact-verify/oracle mismatch, never silently. The string form
    remains the default for operators whose oracle intersects literal
    shingle strings.
    """
    out = _shingle_sets(df, id_col, text_col, n, hashed, explode=True)
    if max_doc_frequency is not None:
        # the USING join moves the key to column 0 — restore (id,
        # shingle) order, which downstream positional toDF relies on
        out = out.join(_rare_shingles(out, max_doc_frequency), "shingle", "left_semi").select(
            id_col, "shingle"
        )
    return out


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int, hashed: bool, explode: bool = False
) -> DataFrame:
    """(id, sh): one row per input row with at least ``n`` tokens, ``sh``
    its distinct ``n``-word shingles (see ``word_shingles`` for the two
    shingle representations). Input rows sharing an id stay separate
    rows. ``explode=True`` returns the (id, shingle) rows instead."""
    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    # tokenize in its OWN projection: the lambda below references the
    # token array many times, and since SPARK-36718 CollapseProject
    # keeps a multiply-referenced non-cheap alias in a separate node —
    # one regex split per row instead of one per shingle slot
    # (measured 4× on the shingle stage at sf0.1)
    base = df.filter(F.size(tokens) >= n).select(F.col(id_col), tokens.alias("__toks"))
    # one parsed lambda: the Column-built one cost ~170 more Py4J round trips
    if hashed:
        args = ", ".join(f"element_at(__toks, i + {j + 1})" for j in range(n))
        body = f"xxhash64({args})"
    else:
        body = f"concat_ws(' ', slice(__toks, i + 1, {n}))"
    shingle = F.expr(f"transform(sequence(0, size(__toks) - {n}), i -> {body})")
    # array_distinct dedups within the doc, so the exploded (id,
    # shingle) pairs are already unique — no global distinct shuffle
    sh = F.array_distinct(shingle)
    if explode:
        # explode in THIS projection: exploding a projected array column
        # lets the optimizer infer a size(sh) > 0 filter and push it below
        # the tokenizer, re-splitting the text once per shingle (measured
        # 10x on the uncached signature path)
        return base.select(F.col(id_col), F.explode(sh).alias("shingle"))
    return base.select(F.col(id_col), sh.alias("sh"))


def _rare_shingles(shingles: DataFrame, max_doc_frequency: int) -> DataFrame:
    """The shingles of (id, shingle) rows held by at most
    ``max_doc_frequency`` rows."""
    return (
        shingles.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") <= max_doc_frequency)
        .select("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_frequency=_DF_CAP_DEFAULT,
) -> DataFrame:
    """N-gram Jaccard similarity for all pairs sharing ≥1 shingle:
    (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.

    Exact *over the retained shingles*: with the default document-
    frequency cap active, shingles appearing in more than
    ``max_doc_frequency`` documents are excluded from both the pair
    space and the Jaccard sets (see below); with
    ``max_doc_frequency=None`` the score is the strict exact Jaccard.

    The pair space is generated by the shingle equi-join (never a
    cartesian); per-pair intersection counts come from a groupBy with
    map-side combine. Set sizes join back via two broadcast-eligible
    aggregates.

    ``max_doc_frequency`` defaults to 1000 (not None): one viral
    boilerplate shingle shared by k documents contributes k² rows to
    the self-join, so an uncapped run melts on boilerplate-heavy
    corpora. Shingles that common carry no dedup signal; dropping them
    bounds the per-shingle fan-out at cap². Pass ``None`` only for
    strict exact-Jaccard semantics on corpora known to be clean. When
    the cap is left at its default a warning surfaces the routing
    decision; passing any explicit value (including 1000) is the
    opt-in that silences it.
    """
    max_doc_frequency = _resolve_df_cap("ngram_jaccard_pairs", max_doc_frequency)
    sizes, common, caches = _shingle_overlap(df, id_col, text_col, n, max_doc_frequency)
    out = (
        common.join(sizes.toDF("id_a", "size_a"), "id_a")
        .join(sizes.toDF("id_b", "size_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            trunc_digits(
                F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # the shingle cache backing the returned plan, recorded so a
    # long-running mining loop can release it after consuming the
    # result (release_batch_state — the ingest-loop hygiene contract)
    out._sg_batch_caches = caches
    return out


def _resolve_df_cap(fn_name: str, max_doc_frequency):
    """ONE place owns the default shingle document-frequency cap and
    its routing warning (shared by the jaccard and containment pair
    operators — the cap value and wording must never diverge between
    them): an unset cap resolves to 1000 with a warning; any explicit
    value (including 1000 or None) is the opt-in that silences it."""
    if max_doc_frequency is _DF_CAP_DEFAULT:
        warnings.warn(
            f"{fn_name} applies a default shingle document-frequency cap of "
            "1000: shingles shared by more than 1000 documents are excluded "
            "from the shingle sets (scores over boilerplate-heavy corpora "
            "are then not the strict exact values). Pass "
            "max_doc_frequency=None for strict exactness, or an explicit cap "
            "to silence this warning.",
            stacklevel=3,
        )
        return 1000
    return max_doc_frequency


def _shingle_overlap(df, id_col, text_col, n, max_doc_frequency):
    """Shared overlap core of the n-gram set-similarity pair: per-doc
    shingle-set sizes plus the exact per-pair intersection counts over
    the unordered (id_a < id_b) pair space — the shingle equi-join
    (never a cartesian), with per-pair counts from a groupBy with
    map-side combine. `ngram_jaccard_pairs` reads the symmetric
    resemblance off it; `containment_pairs` reads both directed
    containments (intersection counts are symmetric, so the unordered
    pair space is computed ONCE either way).

    Returns ``(sizes, common, caches)``: the shingle table backs three
    plan references (sizes + both self-join branches) so it is
    materialized here as a lazy local checkpoint (adaptive execution
    reuses the shingle-keyed exchange above it for both join sides,
    which it never does above a cache scan), and the live handle is
    surfaced through ``caches`` so the pair miners can record it on
    their results for ``release_batch_state`` — without the handle a
    long-running loop that mines pair tables repeatedly leaks one
    corpus-sized shingle table per call into executor storage and
    leans on LRU eviction. As with any local checkpoint, the table's
    blocks live only on the executors: losing one fails the query
    instead of recomputing the table. With a ``max_doc_frequency`` cap
    the document-frequency groupBy below the checkpoint runs when this
    is called, before any action on the miner's result.
    """
    shingles = word_shingles(df, id_col, text_col, n, max_doc_frequency).localCheckpoint(
        eager=False
    )
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    left = shingles.toDF("id_a", "shingle")
    right = shingles.toDF("id_b", "shingle")
    common = (
        left.join(right, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return sizes, common, [shingles]


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_frequency=_DF_CAP_DEFAULT,
) -> DataFrame:
    """N-gram CONTAINMENT — the asymmetric half of Broder's
    resemblance/containment pair (Broder 1997, "On the resemblance and
    containment of documents"): directed ``(id_contained, id_container,
    containment)`` rows with ``containment = |A∩B| / |A| ≥ threshold``,
    where A is the contained doc's shingle set. This is the
    subset-duplicate screen symmetric Jaccard structurally MISSES: a
    short doc quoted whole inside a long page scores resemblance
    ≈ |A|/|B| (arbitrarily small) but containment ≈ 1 — the classic
    boilerplate/quote/mirror-with-chrome case in web-corpus curation,
    where the contained copy is the one a dedup pass drops.

    Both directions of every overlapping pair are scored (intersection
    counts are symmetric, so the unordered pair space is computed once
    and read twice); near-identical docs therefore emit BOTH directed
    rows, subset-duplicates exactly one. Exact over the retained
    shingles, same contract and ``max_doc_frequency`` fan-out cap as
    ``ngram_jaccard_pairs`` (shared ``_shingle_overlap`` core: shingle
    equi-join, never a cartesian; per-pair counts via map-side
    combine; the cap bounds per-shingle fan-out at cap²).

    Pipeline ordering: run AFTER ``dedup_exact``. The pair space is
    quadratic in duplicate-clique size (measured: an 8-copy corpus
    emits 56 directed rows per clique), and whole-document copies are
    caught for one hash groupBy by the exact pass — containment's job
    is the pairs hashing can't see (excerpts, quotes, chrome-wrapped
    mirrors), not exact clones.
    """
    max_doc_frequency = _resolve_df_cap("containment_pairs", max_doc_frequency)
    sizes, common, caches = _shingle_overlap(df, id_col, text_col, n, max_doc_frequency)
    directed = common.unionByName(
        common.select(
            F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"), "common"
        )
    )
    out = (
        directed.join(sizes.toDF("id_a", "size_a"), "id_a")
        .select(
            F.col("id_a").alias("id_contained"),
            F.col("id_b").alias("id_container"),
            trunc_digits(F.col("common") / F.col("size_a")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
    # same hygiene contract as ngram_jaccard_pairs (shared core)
    out._sg_batch_caches = caches
    return out


def minhash_signatures(
    shingles: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 64,
    prehashed: bool = False,
) -> DataFrame:
    """MinHash signature per document: (id, sig array<bigint>).

    Hash slot *i* is ``min(xxhash64(base, i))`` where ``base =
    xxhash64(shingle)`` — the variable-length string is hashed ONCE and
    the k permutations re-hash the 8-byte base, so per-slot cost is
    constant instead of O(|shingle|). One JVM projection + one groupBy
    (map-side partial min), no Python. With ``prehashed=True`` the
    shingle column already IS the 64-bit base
    (``word_shingles(hashed=True)``) and is used directly.
    """
    if not prehashed:
        shingles = shingles.select(F.col(id_col), F.xxhash64("shingle").alias("shingle"))
    # the whole hash family is ONE parsed expression: built slot by slot
    # from Column objects it cost ~2,200 Py4J round trips at 48 slots
    slots = ", ".join(f"min(xxhash64(shingle, {i}))" for i in range(num_hashes))
    return shingles.groupBy(id_col).agg(F.expr(f"array({slots})").alias("sig"))


def _bucket_pairs(left: DataFrame, right: DataFrame, left_id: str, right_id: str) -> DataFrame:
    """(left_id, right_id) rows, one per band in which a document of
    ``left`` and one of ``right`` (two ``_banded_rows`` tables) share a
    bucket: the LSH candidate generator, an equi-join on (band, bucket)
    whose fan-out is the bucket size. The MinHash miners checkpoint its
    distinct pairs, so their result plans show only a scan of the
    checkpoint; a plan audit of the candidate join reads this frame."""
    return (
        left.toDF(left_id, "band", "bucket")
        .join(right.toDF(right_id, "band", "bucket"), ["band", "bucket"])
        .select(left_id, right_id)
    )


def _banded_rows(shingles: DataFrame, id_col: str, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) rows of hashed (id, shingle) rows: the MinHash
    signature split into ``bands`` bands of ``num_hashes/bands`` slots,
    each band hashed to one bucket key."""
    sig = minhash_signatures(shingles, id_col, num_hashes, prehashed=True)
    rows_per_band = num_hashes // bands
    buckets = ", ".join(
        "xxhash64("
        + ", ".join(f"sig[{i}]" for i in range(b * rows_per_band, (b + 1) * rows_per_band))
        + ")"
        for b in range(bands)
    )
    return sig.select(
        F.col(id_col), F.posexplode(F.expr(f"array({buckets})")).alias("band", "bucket")
    )


class MinHashCorpusState(NamedTuple):
    """Corpus-side incremental-dedup artifact: the two reusable tables
    plus the MinHash parameters they were built with. Carrying the
    parameters inside the artifact lets ``minhash_lsh_incremental``
    REJECT a mismatched reuse — a state built at different
    (n, num_hashes, bands) would silently yield missing or spurious
    candidates otherwise (band buckets simply stop colliding)."""

    shingles: DataFrame
    band_rows: DataFrame
    n: int
    num_hashes: int
    bands: int

    def cache(self) -> "MinHashCorpusState":
        """Mark both tables storage-resident (the per-batch reuse shape)."""
        return self._replace(shingles=self.shingles.cache(), band_rows=self.band_rows.cache())

    def unpersist(self) -> None:
        self.shingles.unpersist()
        self.band_rows.unpersist()


def minhash_corpus_state(
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 48,
    bands: int = 16,
) -> MinHashCorpusState:
    """Precompute the corpus-side dedup state (shingles + band rows),
    both eagerly cacheable/persistable. This is the artifact a
    production ingest pipeline materializes ONCE (e.g. written as two
    parquet tables) and reuses for every incoming batch — per-batch
    incremental dedup then touches the corpus text zero times. Pass
    the state to ``minhash_lsh_incremental(corpus_state=...)``; the
    (n, num_hashes, bands) parameters travel inside it and a
    mismatched batch-side call raises instead of silently degrading.

    Shingles are never df-capped here: incremental mining has no
    shingle self-join to fan out (candidates come from the banded
    bucket join), and a per-side cap would make the two sides' shingle
    sets inconsistent — deflating the verified Jaccard below its true
    value exactly at the decision boundary.
    """
    shingles = word_shingles(corpus_df, id_col, text_col, n, None, hashed=True)
    band_rows = _banded_rows(shingles, id_col, num_hashes, bands)
    return MinHashCorpusState(shingles, band_rows, n, num_hashes, bands)


def minhash_lsh_incremental(
    new_df: DataFrame,
    corpus_df: Optional[DataFrame] = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 48,
    bands: int = 16,
    threshold: float = 0.5,
    corpus_state: Optional[Union[MinHashCorpusState, "tuple[DataFrame, DataFrame]"]] = None,
) -> DataFrame:
    """Incremental dedup: near-dup pairs between an incoming BATCH and
    an existing CORPUS — (new_id, corpus_id, jaccard), jaccard ≥
    threshold. The daily-ingest shape: dedupe today's crawl against
    everything already kept without re-mining corpus-internal pairs.
    Shingle sets are never df-capped (see ``minhash_corpus_state`` —
    a per-side cap would skew the cross-side Jaccard).

    Same MinHash-LSH machinery as ``minhash_lsh_pairs`` but the bucket
    join is new×corpus only: candidates come from an equi-join of the
    batch's (band, bucket) rows against the corpus's — never a
    new-batch×corpus cross join, and corpus-internal collisions never
    enter the pair space. Exact-Jaccard verification restricted to
    candidate docs (join strategy decided by AQE on runtime sizes) keeps
    precision 1.0; recall is the banding curve at the threshold.

    At 100 TB the corpus-side (shingles, band-rows) tables are the
    artifact a production pipeline materializes ONCE — build them with
    ``minhash_corpus_state`` (persist as parquet / cache) and pass
    ``corpus_state=`` so each batch never touches corpus text; without
    it they are derived inline from ``corpus_df`` and the local
    checkpoints mark the reuse points. Batch-internal duplicates are
    out of scope by design — run ``minhash_lsh_pairs`` on the batch
    for those.
    Identical ids on both sides are not special-cased.

    The batch shingles, the candidate pairs and the inline corpus
    shingles are lazy local checkpoints (see ``minhash_lsh_pairs`` for
    why not caches). Their blocks live only on the executors: losing
    one fails the result's action instead of recomputing the table.
    Checkpointing the candidate pairs runs their shuffle stages — the
    signature aggregates and the batch-vs-corpus bucket join — when
    this is called, before any action on the result; the verify runs
    on the result's first action.

    Ref: the reference dedupes per-dataset snapshots only
    (awswrangler has no incremental analog); semantics follow the
    standard MinHash-LSH construction over the bipartite restriction.
    """
    inline_corpus = corpus_state is None
    if inline_corpus:
        if corpus_df is None:
            raise ValueError("pass either corpus_df or corpus_state")
        # shingles back both the signature agg and the verify sets (two
        # references) → a lazy local checkpoint (see minhash_lsh_pairs
        # for why not a cache); the band table is joined exactly once →
        # materializing it would only add storage churn
        sh_corpus = word_shingles(corpus_df, id_col, text_col, n, None, hashed=True)
        sh_corpus = sh_corpus.localCheckpoint(eager=False)
        bands_corpus = _banded_rows(sh_corpus, id_col, num_hashes, bands)
    else:
        if isinstance(corpus_state, MinHashCorpusState):
            state_params = (corpus_state.n, corpus_state.num_hashes, corpus_state.bands)
            if state_params != (n, num_hashes, bands):
                raise ValueError(
                    f"corpus_state was built with (n, num_hashes, bands)={state_params} "
                    f"but this call uses {(n, num_hashes, bands)}; a mismatched reuse "
                    "silently yields missing/spurious candidates — rebuild the state "
                    "or pass matching parameters"
                )
            sh_corpus, bands_corpus = corpus_state.shingles, corpus_state.band_rows
        else:
            # legacy bare (shingles, band_rows) pair: accepted but
            # unvalidatable — the caller owns parameter consistency
            sh_corpus, bands_corpus = corpus_state
        # shingle identity is a 64-bit hash since round 3: a persisted
        # string-shingle state from an older build would silently
        # intersect to nothing against the hashed batch side — reject it
        from pyspark.sql import types as _T

        if not isinstance(sh_corpus.schema["shingle"].dataType, _T.LongType):
            raise ValueError(
                "corpus_state holds string shingles (pre-hashed-shingle format); "
                "rebuild it with minhash_corpus_state — a mixed-format reuse "
                "would yield empty intersections, not an error"
            )
    sh_new = word_shingles(new_df, id_col, text_col, n, None, hashed=True).localCheckpoint(
        eager=False
    )
    # the band tables are each joined exactly once (bipartite bucket
    # join) → not materialized; candidates back three downstream
    # references → a lazy local checkpoint too. The live tables
    # (shingle tables + candidates) are recorded on the result so
    # ``release_batch_state(result)`` frees them once the batch is
    # consumed (the ingest-loop hygiene contract); caller-provided
    # corpus_state is the caller's to manage.
    bands_new = _banded_rows(sh_new, id_col, num_hashes, bands)
    candidates = (
        _bucket_pairs(bands_new, bands_corpus, "new_id", "corpus_id")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # no distinct on the probe keys: left_semi joins tolerate duplicate
    # broadcast-side keys, and each skipped distinct is one exchange
    new_ids = candidates.select(F.col("new_id").alias(id_col))
    corpus_ids = candidates.select(F.col("corpus_id").alias(id_col))
    sets_new = (
        sh_new.join(F.broadcast(new_ids), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("sh"))
    )
    sets_corpus = (
        sh_corpus.join(F.broadcast(corpus_ids), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("sh"))
    )
    # join strategy left to AQE: the set aggregates sit behind shuffles,
    # so AQE broadcasts them only when their runtime size fits, and one
    # giant near-dup cluster gets a shuffled join instead
    paired = candidates.join(sets_new.toDF("new_id", "sh_n"), "new_id").join(
        sets_corpus.toDF("corpus_id", "sh_c"), "corpus_id"
    )
    inter = F.size(F.array_intersect("sh_n", "sh_c"))
    union_sz = F.size("sh_n") + F.size("sh_c") - inter
    out = (
        paired.select(
            "new_id", "corpus_id", trunc_digits(inter / union_sz).alias("jaccard")
        )
        .filter(F.col("jaccard") >= threshold)
    )
    # per-batch scratch tables backing the returned plan, recorded so a
    # long-running ingest loop can release them after consuming the
    # result (see release_batch_state) instead of leaking one shingle
    # table + one candidate table per batch into executor storage
    batch_caches = [sh_new, candidates]
    if inline_corpus:
        batch_caches.append(sh_corpus)
    out._sg_batch_caches = batch_caches
    return out


def release_batch_state(result: DataFrame, blocking: bool = False) -> int:
    """Release the per-batch tables behind a ``minhash_lsh_incremental``
    result (batch-side shingles, candidate pairs, and — when the corpus
    state was derived inline — the corpus shingles), behind a
    ``ngram_jaccard_pairs`` / ``containment_pairs`` result (the shared
    ``_shingle_overlap`` shingle table), behind a ``minhash_lsh_pairs``
    result (its shingle-set and candidate tables), behind a
    ``cluster_pairs`` result (the surviving label snapshot) or behind
    a ``semdedup`` / ``semdedup_prune`` result (the cell-assignment
    cache and the label snapshot).

    The production ingest loop is: build ``minhash_corpus_state`` once
    → per batch run ``minhash_lsh_incremental(corpus_state=...)``,
    consume the result, then call this — executor storage stays at the
    corpus state regardless of how many batches have run. The same
    contract holds for a loop that mines exact pair tables per batch
    (``ngram_jaccard_pairs`` / ``containment_pairs``): consume, then
    release — otherwise each call leaks one corpus-sized shingle cache
    and long runs lean on LRU eviction. A caller-provided corpus_state
    is never touched (it is the caller's to manage via
    ``MinHashCorpusState.unpersist``). No-op for frames this package
    did not produce; the result must not be re-used after release (its
    backing caches are gone — re-run the operator).

    CAVEAT (review finding r11): the handle is a python attribute on
    the RETURNED DataFrame object — any further transformation
    (``.orderBy`` / ``.filter`` / ``.limit`` …) returns a NEW frame
    without it, and releasing that derived frame frees nothing. Hold
    the operator's direct result for the release call (or copy
    ``_sg_batch_caches`` onto the final frame via
    ``carry_batch_caches``, as the registry rows do); release only
    after every consumer of the batch has run.

    Returns the number of caches released so an ingest loop can ASSERT
    the hygiene contract actually fired (ADVICE r11: the lost-handle
    case was a silent no-op leak); a handle-less frame additionally
    emits a ``RuntimeWarning`` naming the carry idiom, since the only
    reason to call this is a frame expected to hold the handle.
    """
    import warnings

    caches = getattr(result, "_sg_batch_caches", [])
    if not caches:
        warnings.warn(
            "release_batch_state: no _sg_batch_caches handle on this frame "
            "— it is a derived frame (transformations drop the handle; "
            "thread it with carry_batch_caches) or not a caching "
            "operator's result. Nothing was released.",
            RuntimeWarning,
            stacklevel=2,
        )
        return 0
    for cached in caches:
        cached.unpersist(blocking)
        _release_local_checkpoint(cached, blocking)
    return len(caches)


def carry_batch_caches(dst: DataFrame, src: DataFrame) -> DataFrame:
    """Copy the ``_sg_batch_caches`` release handle from an operator's
    direct result onto a derived frame (post-``orderBy``/-composition)
    so ``release_batch_state(dst)`` still frees the backing caches —
    the ONE named idiom for the caveat above (second-review finding
    r11; the registry rows use it). Returns ``dst``. No-op for
    handle-less sources."""
    caches = getattr(src, "_sg_batch_caches", None)
    if caches is not None:
        dst._sg_batch_caches = caches
    return dst


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 48,
    bands: int = 16,
    threshold: float = 0.5,
    max_doc_frequency: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH with exact-Jaccard verify:
    (id_a, id_b, jaccard), id_a < id_b, jaccard ≥ threshold.

    Banding: signature split into ``bands`` rows of ``num_hashes/bands``
    slots; a pair is a candidate iff some band hashes equal. Candidates
    come from an equi-join on (band, band_hash) — the LSH bucket — and
    are then verified with exact Jaccard, so precision is 1.0 and the
    only approximation is recall (tunable via bands). At 100 TB the
    bucket join replaces the all-pairs shingle join with a join whose
    fan-out is the bucket size.

    Plan: two materialized tables, each a lazy ``localCheckpoint``.
    The per-row shingle-set table ``(id, sh array<bigint>)`` (hashed
    shingles, distinct within the row) feeds both consumers — the
    signature aggregate explodes it, and the verify explodes only the
    candidate documents' rows of it. The candidate table ``(id_a,
    id_b)`` holds the distinct band-bucket pairs; the verify reads it
    twice (its ids, then the pairs), and without it each read planned
    its own band self-join, ``distinct`` and signature aggregate, with
    no exchange above the ``distinct`` for AQE to reuse. Checkpointing
    it runs those shuffle stages when the operator is called; the
    verify runs on the result's first action. The one forced broadcast
    is the distinct candidate ids (linear in candidate documents, never
    in pairs); it restricts the set table to candidate documents before
    their sets are gathered, so the corpus's sets never cross an
    exchange or a broadcast. The joins that bring each pair's two sets
    together are left to AQE.

    Rows sharing an id are one document: the signature takes the min
    over all of their shingles and the verify unions their sets.

    The result carries both tables as ``_sg_batch_caches``: consume the
    result, then ``release_batch_state(result)`` frees them.

    Defaults: 48 slots × 16 bands (3 rows/band) — measured ~2× faster
    end-to-end than 64×16 with P(candidate | j=0.8) ≈ 0.99997 and
    ~1.6% false candidates at j=0.1, all killed by the exact verify.
    ``max_doc_frequency`` defaults to None here (unlike the n-gram
    miner): the minhash shingle table is only ever *aggregated* per
    doc (map-side partial min) — there is no shingle self-join to fan
    out, and the band join's fan-out is bounded by banding itself, so
    the cap would add a groupBy+semi-join shuffle for no scale benefit.
    With a cap, both the signatures and the verified sets hold only
    the retained shingles.
    """
    # the set table is a lazy local checkpoint, not a cache: Spark's
    # adaptive execution wraps every scan of a cached table in its own
    # query stage and reuses no exchange above one, so over a cache the
    # band self-join would run the signature aggregate once per side and
    # the plan one cache-materialization job per reference. Above a
    # checkpoint scan identical exchanges are reused: the signature
    # aggregate runs once for both sides of the band self-join. As with
    # any local checkpoint, its blocks live only on the executors:
    # losing one fails the call instead of recomputing the table.
    sets = _shingle_sets(df, id_col, text_col, n, hashed=True).localCheckpoint(eager=False)
    shingles = sets.select(F.col(id_col), F.explode("sh").alias("shingle"))
    if max_doc_frequency is not None:
        shingles = shingles.join(_rare_shingles(shingles, max_doc_frequency), "shingle", "left_semi")
    band_rows = _banded_rows(shingles, id_col, num_hashes, bands)
    # the candidate pairs are the second lazy local checkpoint: the
    # verify reads them twice (their ids, and the pairs themselves), and
    # without a materialized table each read re-plans its own band
    # self-join, distinct and signature aggregate
    candidates = (
        _bucket_pairs(band_rows, band_rows, "id_a", "id_b")
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # exact-Jaccard verify of candidates only: the one forced broadcast
    # is the distinct candidate ids (linear in candidate documents),
    # which restricts the shingles to candidate documents before the
    # set aggregate, so only their sets are ever shuffled. The pair-to-
    # set joins are left to AQE: it broadcasts the sets when their
    # runtime size fits, and one giant near-dup cluster gets a shuffled
    # join that scales with the cluster instead of the driver.
    cand_ids = candidates.select(F.explode(F.array("id_a", "id_b")).alias(id_col)).distinct()
    cand_sets = (
        shingles.join(F.broadcast(cand_ids), id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("shingle").alias("sh"))
    )
    paired = candidates.join(cand_sets.toDF("id_a", "sh_a"), "id_a").join(
        cand_sets.toDF("id_b", "sh_b"), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union_sz = F.size("sh_a") + F.size("sh_b") - inter
    out = paired.select(
        "id_a", "id_b", trunc_digits(inter / union_sz).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)
    out._sg_batch_caches = [sets, candidates]
    return out


def duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact substring-span deduplication: per document, the MAXIMAL
    token spans whose every ``k``-token window also appears in at least
    ``min_docs - 1`` OTHER documents — the cross-document duplicated-
    passage detector of substring-level dedup (boilerplate headers,
    license blocks, syndicated paragraphs), one granularity below
    whole-document near-dup mining.

    Returns (id, span_start, span_end, span_tokens): token-index spans,
    inclusive, maximal (overlapping/adjacent duplicated windows merged).

    Plan shape, built for 100 TB: positioned k-gram extraction is a
    pure projection; cross-document frequency is one hash aggregate
    over (shingle → distinct-doc count) with map-side partials; the
    df-filter semi-join keys on the shingle (only duplicated shingles
    travel); span merging is a per-document window (running max of
    span ends) + one groupBy — everything shards by document, no
    self-join, no cartesian, no Python.

    Ref: the reference has no substring-dedup analog (awswrangler
    dedups rows at most); semantics follow the exact-substring
    construction of training-data dedup literature, expressed as
    k-gram coverage intervals instead of suffix arrays (the
    distributed-friendly formulation).
    """
    from pyspark.sql import Window

    tokens = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.filter(F.size(tokens) >= k).select(F.col(id_col), tokens.alias("__toks"))
    t = F.col("__toks")
    idx = F.sequence(F.lit(0), F.size(t) - k)
    gram = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)))
    # positioned (id, pos, shingle): positions kept — this operator is
    # about WHERE duplication sits, unlike the distinct sets above
    positioned = base.select(
        F.col(id_col), F.posexplode(gram).alias("pos", "shingle")
    )
    dup_shingles = (
        positioned.select("shingle", id_col)
        .distinct()
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") >= min_docs)
        .select("shingle")
    )
    hits = positioned.join(dup_shingles, "shingle", "left_semi")
    # merge overlapping/adjacent k-token windows into maximal spans:
    # a window starting at pos covers [pos, pos+k-1]; a new span starts
    # when pos jumps past (previous running max end) + 1
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.select(
        F.col(id_col),
        F.col("pos"),
        (F.col("pos") + F.lit(k - 1)).alias("end"),
        F.when(
            F.col("pos") > F.max(F.col("pos") + F.lit(k - 1)).over(w_prev) + 1, 1
        )
        .otherwise(0)
        .alias("is_new"),
    )
    w_run = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = flagged.select(
        F.col(id_col),
        "pos",
        "end",
        F.sum("is_new").over(w_run).alias("span_id"),
    )
    return (
        grouped.groupBy(id_col, "span_id")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            F.max("end").cast("bigint").alias("span_end"),
            (F.max("end") - F.min("pos") + 1).cast("bigint").alias("span_tokens"),
        )
        .select(id_col, "span_start", "span_end", "span_tokens")
    )


def duplicated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
    min_docs: int = 2,
    min_line_chars: int = 1,
    broadcast_verdicts: Optional[bool] = True,
) -> DataFrame:
    """Line-level cross-document duplication verdicts: every line
    occurrence whose exact line text appears in at least ``min_docs``
    DISTINCT documents — (id, line_no, line, line_df). The middle
    granularity of the dedup ladder: whole-document near-dup mining
    above, token-span mining (``duplicated_spans``) below; this is the
    C4/RefinedWeb-style boilerplate-line detector (nav bars, cookie
    banners, license headers repeated verbatim across pages).

    ``delimiter`` is the ``F.split`` regex defining a "line". Lines
    whose trimmed length is below ``min_line_chars`` are never flagged
    (blank separator lines are structure, not boilerplate). Line
    identity is the EXACT line string — normalization is the caller's
    preprocessing decision.

    Plan shape, built for 100 TB: line explode is a pure projection;
    the document-frequency table is one hash aggregate over distinct
    (line, id) pairs with map-side partials; verdicts come from an
    equi-join keyed on the line string (fan-out linear in occurrence
    count — never a self-join). The line key is INTRINSICALLY skewed —
    boilerplate lines are by definition the heavy hitters — so the
    verdict join BROADCASTS the dup-line table by default
    (``broadcast_verdicts``): it holds only the distinct duplicated
    lines (the boilerplate vocabulary, MBs even on huge corpora), not
    their occurrences, and broadcasting removes the skewed shuffle
    entirely. The broadcast is FORCED, so a corpus whose boilerplate
    vocabulary is itself huge would OOM executors rather than shuffle
    slowly — on such corpora pass ``broadcast_verdicts=None`` to let
    AQE pick the strategy at runtime from the vocabulary's ACTUAL
    size (broadcast when small, skew-split shuffle when not), or
    ``False`` to force the shuffle join. Pre-flight the decision
    with ``profiling.key_distribution(lines, ["line"])``. Everything
    else shards by line then by document; no Python, no cartesian.

    Ref: awswrangler has no sub-document dedup (it drops duplicate
    ROWS at most, e.g. catalog drop_duplicated_columns); semantics
    follow the C4 line-dedup construction from the training-data
    literature.
    """
    lines = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), delimiter)).alias("line_no", "line")
    )
    dup = _duplicated_line_keys(lines, id_col, min_docs, min_line_chars)
    if broadcast_verdicts:
        dup = F.broadcast(dup)
    elif broadcast_verdicts is False:
        dup = dup.hint("merge")  # force the shuffle; AQE skew-splits it
    return (
        lines.join(dup, "line")
        .select(id_col, F.col("line_no").cast("bigint"), "line", "line_df")
    )


def _duplicated_line_keys(
    lines: DataFrame, id_col: str, min_docs: int, min_line_chars: int
) -> DataFrame:
    """(line, line_df) for lines in ≥ min_docs distinct docs."""
    return (
        lines.filter(F.length(F.trim(F.col("line"))) >= min_line_chars)
        .select("line", id_col)
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("line_df"))
        .filter(F.col("line_df") >= min_docs)
    )


def remove_duplicated_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = "\n",
    join_with: str = "\n",
    min_docs: int = 2,
    min_line_chars: int = 1,
    broadcast_verdicts: Optional[bool] = True,
) -> DataFrame:
    """The cleaning counterpart of ``duplicated_lines``: every
    occurrence of a cross-document duplicated line is removed from
    every document (the strict policy — a keep-one policy would need a
    global occurrence order, which a distributed corpus does not have)
    and the survivors are reassembled in original order. Returns one
    row per input document: (id, text, n_lines, n_removed) — a doc
    whose every line was boilerplate keeps its row with text ''.

    One extra shuffle beyond the verdict join: the per-document
    reassembly groupBy, whose sort is a JVM ``array_sort`` over the
    doc's own (line_no, line) structs — document-local, no global
    ordering anywhere. The verdict join broadcasts the dup-line
    table by default (``broadcast_verdicts``; ``None`` defers the
    strategy to AQE, ``False`` forces the shuffle) — see
    ``duplicated_lines`` for the skew/OOM trade-off.
    """
    lines = df.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), delimiter)).alias("line_no", "line")
    )
    dup = _duplicated_line_keys(lines, id_col, min_docs, min_line_chars).select(
        "line", F.lit(True).alias("__dup")
    )
    if broadcast_verdicts:
        dup = F.broadcast(dup)
    elif broadcast_verdicts is False:
        dup = dup.hint("merge")  # force the shuffle; AQE skew-splits it
    flagged = lines.join(dup, "line", "left")
    # collect_list drops nulls, so the WHEN-null trick folds the kept-
    # line filter into the aggregate; array_sort on (line_no, line)
    # structs orders by line_no — the original document order
    kept_struct = F.when(
        F.col("__dup").isNull(), F.struct(F.col("line_no"), F.col("line"))
    )
    return flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]
            ),
            join_with,
        ).alias(text_col),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("__dup").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_removed"),
    )


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 64,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash per document: (id, simhash bigint).

    Each signature bit is the sign of the per-bit vote sum over token
    hashes. The 64 votes are 64 conditional-sum aggregates in one
    groupBy — JVM codegen, map-side partials, one shuffle row per doc.

    ``token_hash`` picks the per-token hash:

    - ``"xxhash64"`` (default): fastest — one JVM hash call per token.
    - ``"md5"``: the 64 bits come from the first 16 hex chars of
      ``md5(token)`` (two 32-bit halves parsed via ``conv``). Slightly
      slower, but md5 exists in every engine, so the whole signature —
      and therefore the pair output — is reproducible in DuckDB SQL
      for cross-engine verification (xxhash64 has no DuckDB twin).
      Bit b<32 reads the LOW half (hex chars 9-16), b≥32 the HIGH half
      (hex chars 1-8) — the layout the oracle mirrors.
    """
    tokens = df.select(
        F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok")
    ).filter(F.length("tok") > 0)
    if token_hash == "xxhash64":
        hashed = tokens.select(F.col(id_col), F.xxhash64("tok").alias("h"))

        def bit_expr(b: int) -> "F.Column":
            return F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))

    elif token_hash == "md5":
        m = F.md5("tok")
        hashed = tokens.select(
            F.col(id_col),
            F.conv(F.substring(m, 9, 8), 16, 10).cast("bigint").alias("h_lo"),
            F.conv(F.substring(m, 1, 8), 16, 10).cast("bigint").alias("h_hi"),
        )

        def bit_expr(b: int) -> "F.Column":
            src = F.col("h_lo") if b < 32 else F.col("h_hi")
            return F.shiftright(src, b % 32).bitwiseAND(F.lit(1))

    else:
        raise ValueError(f"unknown token_hash: {token_hash!r} (use 'xxhash64' or 'md5')")
    votes = [
        F.sum(F.when(bit_expr(b) == 1, 1).otherwise(-1)).alias(f"v{b}") for b in range(bits)
    ]
    voted = hashed.groupBy(id_col).agg(*votes)
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseOR(term)
    return voted.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ ``max_hamming``:
    (id_a, id_b, hamming).

    Pigeonhole banding: split 64 bits into ``max_hamming + 1`` chunks;
    any pair within distance k must agree exactly on ≥1 chunk → equi-join
    per chunk, union, verify with ``bit_count(xor)``. Bucket equi-joins
    only — never all-pairs. The banding is EXACT (pigeonhole, not
    probabilistic), so the output equals the all-pairs hamming filter —
    which is what the cross-engine oracle computes for ``token_hash=
    "md5"`` (see ``simhash_signatures``).
    """
    sig = simhash_signatures(df, id_col, text_col, token_hash=token_hash)
    return hamming_pairs(sig, id_col=id_col, hash_col="simhash", max_hamming=max_hamming)


def hamming_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
) -> DataFrame:
    """All pairs within hamming distance ``max_hamming`` over any
    64-bit signature column: (id_a, id_b, hamming). The generic engine
    behind ``simhash_pairs`` — the same exact pigeonhole banding works
    for ANY 64-bit sketch (text simhash, image dHash, audio
    fingerprints): split into ``max_hamming + 1`` chunks, equi-join per
    chunk (a pair within distance k must agree exactly on ≥1 chunk),
    verify with ``bit_count(xor)``. Bucket equi-joins only — never
    all-pairs — and EXACT: output equals the brute-force hamming
    filter.
    """
    chunks = max_hamming + 1
    width = 64 // chunks
    banded = sig.select(
        F.col(id_col),
        F.col(hash_col),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col(hash_col), c * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("chunk", "chunk_val"),
    )
    a = banded.toDF("id_a", "sim_a", "chunk", "chunk_val")
    b = banded.toDF("id_b", "sim_b", "chunk", "chunk_val")
    return (
        a.join(b, ["chunk", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _release_local_checkpoint(df: DataFrame, blocking: bool = False) -> None:
    """Unpersist the snapshot RDD behind a ``localCheckpoint``'d frame.

    ``localCheckpoint`` truncates lineage to a ``LogicalRDD`` whose
    backing RDD stays persisted until explicitly released — iterative
    algorithms must free superseded generations or executor storage
    grows linearly with iterations.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(blocking)
    except Exception:
        pass  # best-effort: storage pressure, not correctness


def cluster_pairs(
    pairs: DataFrame,
    members: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    checkpoint: str = "local",
) -> DataFrame:
    """Connected components over near-dup pairs: (id, cluster_id) where
    cluster_id = min id reachable through the pair graph. ``members``
    is the node universe; duplicates in it are tolerated (the init
    aggregation dedups), so callers need no extra ``.distinct()``.

    Min-label propagation with the first round FUSED into init
    (label_0 = min(self, neighbors) — at init a neighbor's label is
    its id, so this is one groupBy, no join): star-shaped near-dup
    groups, the overwhelmingly common case, converge at init and the
    loop runs a single fixpoint check. Later iterations join current
    labels across edges and take the elementwise min; convergence is
    O(graph diameter) rounds, the loop stopping at fixpoint via a
    distributed count, not a collect of the data. Each round is two
    shuffles on the id — the standard large-scale CC pattern short of
    a full Pregel.

    Each generation is checkpointed: the label plan references its
    predecessor twice (union + edge join), so without truncation the
    logical tree doubles per round — exponential plan-canonicalization
    cost that OOMs the driver on long chains. The superseded snapshot is
    explicitly released each round, keeping executor storage at one
    label table regardless of iteration count.

    ``checkpoint`` picks the truncation tier:

    - ``"local"`` (default): ``localCheckpoint`` — fastest, but the
      snapshot lives in executor storage only; losing an executor loses
      its blocks and fails the job. The right default for single-node /
      interactive runs.
    - ``"reliable"``: ``DataFrame.checkpoint`` to the session's
      checkpoint dir (HDFS/S3 on a cluster) — each generation survives
      executor loss, the contract a multi-hour 100 TB CC job needs.
      Requires ``spark.sparkContext.setCheckpointDir(...)`` first;
      superseded checkpoint files are reclaimed by Spark's reference
      tracker when ``spark.cleaner.referenceTracking.cleanCheckpoints``
      is enabled (otherwise reap the dir after the job).
    """
    if checkpoint not in ("local", "reliable"):
        raise ValueError(f"checkpoint must be 'local' or 'reliable', got {checkpoint!r}")
    use_reliable = checkpoint == "reliable"
    if use_reliable and pairs.sparkSession.sparkContext.getCheckpointDir() is None:
        raise ValueError(
            "checkpoint='reliable' needs a checkpoint dir: call "
            "spark.sparkContext.setCheckpointDir('<hdfs/s3/local path>') first"
        )

    def _ckpt(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if use_reliable else df.localCheckpoint()

    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .cache()
    )
    # fuse the first propagation round into initialization: at init a
    # neighbor's label IS its id, so label_0 = min(self, neighbors) is
    # one groupBy with no join — star-shaped near-dup groups (the
    # overwhelmingly common case) are then converged at init and the
    # loop exits after a single fixpoint check. Saves one full
    # propagation round (two corpus-sized shuffles + a checkpoint) at
    # every scale; the fixpoint is unchanged (labels only decrease,
    # reachability untouched).
    labels = _ckpt(
        members.select(F.col(id_col).alias("node"), F.col(id_col).alias("label"))
        .unionByName(edges.select(F.col("src").alias("node"), F.col("dst").alias("label")))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    for _ in range(max_iterations):
        neighbor_labels = (
            edges.join(labels, edges.dst == labels.node)
            .select(F.col("src").alias("node"), F.col("label"))
        )
        new_labels = _ckpt(
            labels.unionByName(neighbor_labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        if not use_reliable:
            _release_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    out = labels.select(F.col("node").alias(id_col), F.col("label").alias("cluster_id"))
    # the surviving label snapshot, for release_batch_state
    out._sg_batch_caches = [labels]
    return out


def _lsh_params_for_threshold(
    threshold: float,
    num_planes: Optional[int],
    num_tables: Optional[int],
    max_miss: float = 0.05,
) -> "tuple[int, int]":
    """Derive sign-LSH (planes, tables) so a pair at exactly
    ``cosine == threshold`` is missed with probability ≤ ``max_miss``.

    Per-plane agreement for a pair at angle θ is p = 1 - θ/π; a band of
    ``b`` planes matches with p^b and ``t`` independent tables miss with
    (1 - p^b)^t. Planes are maximized subject to p^b ≥ 0.25 at the
    boundary (longer bands ⇒ smaller buckets ⇒ fewer candidate pairs),
    then tables are added until the miss bound holds. Explicit values
    are respected untouched.
    """
    import math

    if num_planes is not None and num_tables is not None:
        return num_planes, num_tables
    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    p = min(max(p, 1e-6), 1.0 - 1e-9)
    planes = num_planes if num_planes is not None else max(2, min(16, int(math.log(0.25) / math.log(p))))
    band_match = p**planes
    if num_tables is not None:
        tables = num_tables
    elif band_match >= 1.0 - 1e-12:
        tables = 1
    else:
        tables = max(1, min(24, math.ceil(math.log(max_miss) / math.log(1.0 - band_match))))
    return planes, tables


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    method: str = "exact",
    num_blocks: int = 16,
    num_planes: Optional[int] = None,
    num_tables: Optional[int] = None,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold:
    (id_a, id_b, cosine), id_a < id_b.

    The default is the LOSSLESS ``"exact"`` engine — approximation is
    strictly opt-in (``method="lsh"`` or ``"auto"``), so existing
    callers relying on exact pair mining are never silently degraded.

    Engines (``method="auto"`` routes by the threshold regime and
    warns when it picks the approximate path):

    - ``"lsh"`` (threshold ≥ 0.7 — the genuine near-dup regime):
      multi-table random-hyperplane LSH buckets generate candidate
      pairs via an equi-join on (table, bucket); candidates are scored
      with the exact cosine, so precision is 1.0 and the only
      approximation is recall
      (P[miss] = (1-(1-θ/π)^planes)^tables). When ``num_planes`` /
      ``num_tables`` are left as None they are derived FROM the
      threshold so that a pair sitting exactly AT the threshold is
      missed with probability ≤ 5% (pairs further above the threshold
      miss far less): planes are made as long as possible while keeping
      per-band match ≥ 0.25 at the boundary (small buckets, few
      candidates), then tables are added until the 5% bound holds.
      Cost stays bucket-local: the 100 TB path.
    - ``"exact"`` (low thresholds): an angle barely above the random-
      pair background (e.g. cos ≥ 0.4 ⇒ θ ≤ 66° vs the ~90° background)
      gives sign-LSH almost no discrimination — per-plane agreement is
      0.63 for borderline pairs vs 0.50 for random ones, so any table
      count with recall→1 admits nearly all pairs as candidates.
      Low-threshold mining is therefore intrinsically Ω(n²); what CAN
      be fixed at scale is its distribution: a *block equi-join*
      (corpus hashed into ``num_blocks`` blocks, one side replicated
      across block ids) shards the quadratic work evenly over
      executors as a plain shuffled hash join — no CartesianProduct /
      BroadcastNestedLoopJoin single-task bottleneck.
    - ``"gemm"``: same exact semantics and two-sided blocking, but each
      block pair scores as one BLAS matrix product in an Arrow-batched
      cogroup kernel — the dense-linear-algebra throughput path (like
      ``similarity.cosine_topk_arrow``). Scores reassociate the dot-sum,
      so last-digit values can differ from the sequential convention:
      use for throughput, not for oracle-exact comparisons.

    ``"exact"``/``"auto"`` keep all vector math in `zip_with`/
    `aggregate` — JVM codegen, no Python.
    """
    vec = F.col(vec_col).cast("array<double>")
    withnorm = df.select(
        F.col(id_col).alias("__id"),
        vec.alias("__v"),
        F.sqrt(
            F.aggregate(F.transform(vec, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
        ).alias("__norm"),
    )
    if method == "auto":
        method = "lsh" if threshold >= 0.7 else "exact"
        if method == "lsh":
            warnings.warn(
                f"embedding_near_dup_pairs(method='auto') routed threshold={threshold} "
                "to the approximate LSH engine (recall ≥ ~95% for pairs AT the "
                "threshold, higher above it); pass method='exact' for lossless "
                "mining or method='lsh' to silence this warning",
                stacklevel=2,
            )
    dot = F.aggregate(
        F.zip_with(F.col("v_a"), F.col("v_b"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cosine = trunc_digits(dot / (F.col("norm_a") * F.col("norm_b")))
    if method == "exact":
        # block equi-join: b-side keyed by its hash block, a-side
        # replicated to every block — each (a, b) pair meets exactly
        # once, sharded across num_blocks join groups
        a = withnorm.select(
            F.col("__id").alias("id_a"),
            F.col("__v").alias("v_a"),
            F.col("__norm").alias("norm_a"),
            F.explode(F.sequence(F.lit(0), F.lit(num_blocks - 1))).alias("__blk"),
        )
        b = withnorm.select(
            F.col("__id").alias("id_b"),
            F.col("__v").alias("v_b"),
            F.col("__norm").alias("norm_b"),
            F.pmod(F.xxhash64("__id"), F.lit(num_blocks)).cast("int").alias("__blk"),
        )
        paired = a.join(b, "__blk").filter(F.col("id_a") < F.col("id_b"))
    elif method == "gemm":
        return _gemm_near_dup_pairs(withnorm, threshold, num_blocks, df.schema[id_col].dataType)
    elif method == "lsh":
        from aws_data_wrangler_spark.operators.similarity import _hyperplanes, _infer_dim, lsh_bucket

        num_planes, num_tables = _lsh_params_for_threshold(threshold, num_planes, num_tables)
        dim = _infer_dim(df, vec_col)
        tables = [
            withnorm.select(
                F.col("__id"),
                F.lit(t).alias("__tbl"),
                lsh_bucket(F.col("__v"), _hyperplanes(dim, num_planes, seed + t)).alias("__bucket"),
            )
            for t in range(num_tables)
        ]
        buckets = tables[0]
        for extra in tables[1:]:
            buckets = buckets.unionByName(extra)
        candidates = (
            buckets.toDF("id_a", "__tbl", "__bucket")
            .join(buckets.toDF("id_b", "__tbl", "__bucket"), ["__tbl", "__bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # exact verify on candidates only — precision 1.0
        paired = candidates.join(
            withnorm.toDF("id_a", "v_a", "norm_a"), "id_a"
        ).join(withnorm.toDF("id_b", "v_b", "norm_b"), "id_b")
    else:
        raise ValueError(
            f"unknown method: {method!r} (use 'auto', 'exact', 'lsh', or 'gemm')"
        )
    return (
        paired.select("id_a", "id_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    method: str = "exact",
    num_blocks: int = 16,
    num_planes: Optional[int] = None,
    num_tables: Optional[int] = None,
    seed: int = 42,
) -> DataFrame:
    """Incremental embedding dedup: (new_id, corpus_id, cosine) pairs
    where an incoming batch vector is within ``threshold`` cosine of an
    existing corpus vector — the embedding analog of
    ``minhash_lsh_incremental`` (semantic dedup of today's ingest
    against everything already kept).

    Routing mirrors ``embedding_near_dup_pairs``: sign-LSH bucketed
    candidates + exact verify in the near-dup regime (params derived
    from the threshold), bipartite block equi-join for low thresholds —
    the corpus side is hashed into ``num_blocks`` blocks and only the
    (small) batch side is replicated across them, so the quadratic
    work is new×corpus (never corpus×corpus) and shards evenly with no
    CartesianProduct in the plan. At scale the corpus-side bucket
    table is the persisted artifact a pipeline reuses per batch.
    """
    vec = F.col(vec_col).cast("array<double>")
    norm_expr = F.sqrt(
        F.aggregate(F.transform(vec, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )

    def _w(df: DataFrame) -> DataFrame:
        return df.select(F.col(id_col).alias("__id"), vec.alias("__v"), norm_expr.alias("__norm"))

    wn_new, wn_corpus = _w(new_df), _w(corpus_df)
    if method == "auto":
        method = "lsh" if threshold >= 0.7 else "exact"
        if method == "lsh":
            warnings.warn(
                f"embedding_near_dup_incremental(method='auto') routed threshold="
                f"{threshold} to the approximate LSH engine; pass method='exact' "
                "for lossless mining or method='lsh' to silence this warning",
                stacklevel=2,
            )
    dot = F.aggregate(
        F.zip_with(F.col("v_n"), F.col("v_c"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cosine = trunc_digits(dot / (F.col("norm_n") * F.col("norm_c")))
    if method == "exact":
        a = wn_new.select(
            F.col("__id").alias("new_id"),
            F.col("__v").alias("v_n"),
            F.col("__norm").alias("norm_n"),
            F.explode(F.sequence(F.lit(0), F.lit(num_blocks - 1))).alias("__blk"),
        )
        b = wn_corpus.select(
            F.col("__id").alias("corpus_id"),
            F.col("__v").alias("v_c"),
            F.col("__norm").alias("norm_c"),
            F.pmod(F.xxhash64("__id"), F.lit(num_blocks)).cast("int").alias("__blk"),
        )
        paired = a.join(b, "__blk")
    elif method == "lsh":
        from aws_data_wrangler_spark.operators.similarity import _hyperplanes, _infer_dim, lsh_bucket

        num_planes, num_tables = _lsh_params_for_threshold(threshold, num_planes, num_tables)
        dim = _infer_dim(new_df, vec_col)
        planes = [_hyperplanes(dim, num_planes, seed + t) for t in range(num_tables)]

        def _buckets(wn: DataFrame) -> DataFrame:
            tables = [
                wn.select(
                    F.col("__id"),
                    F.lit(t).alias("__tbl"),
                    lsh_bucket(F.col("__v"), planes[t]).alias("__bucket"),
                )
                for t in range(num_tables)
            ]
            out = tables[0]
            for extra in tables[1:]:
                out = out.unionByName(extra)
            return out

        candidates = (
            _buckets(wn_new).toDF("new_id", "__tbl", "__bucket")
            .join(_buckets(wn_corpus).toDF("corpus_id", "__tbl", "__bucket"), ["__tbl", "__bucket"])
            .select("new_id", "corpus_id")
            .distinct()
        )
        paired = candidates.join(
            wn_new.toDF("new_id", "v_n", "norm_n"), "new_id"
        ).join(wn_corpus.toDF("corpus_id", "v_c", "norm_c"), "corpus_id")
    else:
        raise ValueError(f"unknown method: {method!r} (use 'auto', 'exact', or 'lsh')")
    return (
        paired.select("new_id", "corpus_id", cosine.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semdedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_clusters: int = 64,
    eps: float = 0.05,
    keep: str = "farthest",
    centroids: Optional[DataFrame] = None,
    iterations: int = 5,
    checkpoint: str = "local",
) -> DataFrame:
    """SemDeDup-style cluster-then-prune semantic dedup: k-means-cluster
    the embedding space, mine duplicate pairs only WITHIN each cluster
    (cosine ≥ 1 − ``eps``), connect them into duplicate groups, and
    keep exactly ONE representative per group — by default the member
    FARTHEST from its cluster centroid (near-centroid members are the
    redundant mass; the construction of the semantic-dedup literature).

    Returns per-row verdicts for every member of a duplicate group:
    (id, cell, centroid_cos, group_id, keep) — rows in no group are
    implicitly kept and not returned (use ``semdedup_prune`` for the
    surviving corpus). ``group_id`` = min member id. The result carries
    the cached cell assignment and the grouping's label snapshot as
    ``_sg_batch_caches``; free them with ``release_batch_state`` once
    the verdicts are consumed.

    ``centroids`` (cid int, cvec array) short-circuits training: pass a
    pre-trained table (``similarity.train_ivf_centroids``, persisted)
    for the production shape, or any deterministic seed set — with
    given centroids every downstream step is deterministic arithmetic,
    which is how the registered query carries a value-level DuckDB
    oracle despite k-means being iterative. ``centroids=None`` trains
    in-line (deterministic init, Lloyd ``iterations``).

    Plan shape, built for 100 TB: assignment is
    ``similarity.assign_cells``'s zero-shuffle nearest-cell projection
    (cosine keys), routed by its one flat-vs-two-level rule — so no
    crossJoin, no per-row-keyed window and no corpus-keyed shuffle at
    any cell count. Do NOT size ``num_clusters`` corpus/1000 on a huge
    corpus — train ~10⁵ centroids on a ``sampling.hash_sample`` instead
    (cells get bigger, and the cell-keyed pair miner's per-cell
    quadratic cost is the knob you re-balance with ``eps`` and cell
    count). Inline training warns past 10⁵ and refuses past 10⁶. The
    pair miner is a cell-keyed equi-join whose fan-out is the cell
    size; grouping reuses ``cluster_pairs`` (near-dup groups are tiny —
    pass ``checkpoint='reliable'`` on long cluster runs); the keep
    window shards by group. No corpus×corpus join anywhere.

    Ref: the reference has no semantic-dedup analog; semantics follow
    the cluster→within-cluster-cosine→keep-one construction, with the
    keep policy ('farthest'|'closest' from centroid) explicit.
    """
    if keep not in ("farthest", "closest"):
        raise ValueError(f"keep must be 'farthest' or 'closest', got {keep!r}")
    if centroids is None and num_clusters > 1_000_000:
        raise ValueError(
            f"num_clusters={num_clusters} exceeds the flat-broadcast assignment "
            "bound (1e6). Train ~1e5 centroids on a sampling.hash_sample, or "
            "assign via a two-level coarse quantizer and pass `centroids`."
        )
    if centroids is None and num_clusters > 100_000:
        import warnings

        warnings.warn(
            f"num_clusters={num_clusters} > 1e5: inline k-means costs O(n*k) "
            "dot products per Lloyd round and the assignment goes two-level — "
            "prefer ~1e5 sample-trained centroids (see docstring).",
            stacklevel=2,
        )
    from pyspark.sql import Window

    from aws_data_wrangler_spark.operators import similarity as _sim

    vec = F.col(vec_col).cast("array<double>")
    points = df.select(
        F.col(id_col).alias("__id"), vec.alias("__v"), _sim._l2_norm(vec).alias("__norm")
    )
    cent_lists = None
    if centroids is None:
        cent_lists = _sim._train_ivf_lists(df, num_clusters, iterations, id_col, vec_col)
    # cache: the assigned table backs BOTH renamed pair-join branches
    # (toDF branches canonicalize to different exchanges — the known
    # recompute trap) plus the verdict join
    assigned = (
        _sim._nearest_cells(
            points, ["__id", "__v", "__norm"], F.col("__v"), F.col("__norm"), "cosine",
            centroids=centroids, cent_lists=cent_lists,
        )
        .select(
            "__id", "__v", "__norm", F.col("cid").alias("__cell"),
            trunc_digits(-F.col("key")).alias("__ccos"),
        )
        .cache()
    )
    a = assigned.toDF("id_a", "v_a", "norm_a", "cell", "ccos_a")
    b = assigned.toDF("id_b", "v_b", "norm_b", "cell", "ccos_b")
    pair_cos = trunc_digits(
        F.aggregate(
            F.zip_with(F.col("v_a"), F.col("v_b"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (F.col("norm_a") * F.col("norm_b"))
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", pair_cos.alias("cosine"))
        .filter(F.col("cosine") >= 1.0 - eps)
    )
    # no .distinct(): cluster_pairs' init groupBy dedups the member
    # universe anyway — the explicit distinct was one extra shuffle
    members = (
        pairs.select(F.col("id_a").alias("__id"))
        .unionByName(pairs.select(F.col("id_b").alias("__id")))
    )
    labels = cluster_pairs(pairs, members, id_col="__id", checkpoint=checkpoint)
    order = F.col("centroid_cos").asc() if keep == "farthest" else F.col("centroid_cos").desc()
    w = Window.partitionBy("group_id").orderBy(order, F.col(id_col).asc())
    out = (
        labels.join(
            assigned.select(
                F.col("__id"),
                F.col("__cell").alias("cell"),
                F.col("__ccos").alias("centroid_cos"),
            ),
            "__id",
        )
        .select(
            F.col("__id").alias(id_col),
            "cell",
            "centroid_cos",
            F.col("cluster_id").alias("group_id"),
        )
        .withColumn("keep", F.row_number().over(w) == 1)
    )
    out._sg_batch_caches = [assigned, *labels._sg_batch_caches]
    return out


def semdedup_prune(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """The surviving corpus after ``semdedup``: drops every duplicate-
    group member except the kept representative (left-anti join on the
    dropped ids — the group tables are tiny relative to the corpus).
    Carries ``semdedup``'s release handle."""
    verdicts = semdedup(df, id_col=id_col, vec_col=vec_col, **kwargs)
    drops = verdicts.filter(~F.col("keep")).select(F.col(id_col))
    return carry_batch_caches(df.join(drops, id_col, "left_anti"), verdicts)


def _gemm_near_dup_pairs(
    withnorm: DataFrame, threshold: float, num_blocks: int, id_type=None
) -> DataFrame:
    """Two-sided blocked all-pairs cosine via per-block BLAS GEMM.

    The corpus is hashed into ``num_blocks`` row-blocks on each side;
    side A replicates across column-block ids, side B across row-block
    ids, so block pair (i, j) meets in exactly one cogroup task whose
    kernel computes ``A_i @ B_j.T`` as one dense matrix product.
    Emitting only ``id_a < id_b`` pairs makes each unordered pair
    appear exactly once (its mirrored instance fails the inequality).
    Per-task memory is two ``n/num_blocks × dim`` matrices — the knob
    that fits the quadratic work to executor memory at any corpus size.
    """
    import pandas as pd
    from pyspark.sql import types as T

    b_blocks = num_blocks
    a = (
        withnorm.select(
            F.col("__id").alias("id_a"),
            F.col("__v").alias("v_a"),
            F.col("__norm").alias("norm_a"),
            F.explode(F.sequence(F.lit(0), F.lit(b_blocks - 1))).alias("__j"),
        )
        .withColumn(
            "__bp",
            (F.pmod(F.xxhash64("id_a"), F.lit(num_blocks)) * b_blocks + F.col("__j")).cast("int"),
        )
        .drop("__j")
    )
    b = (
        withnorm.select(
            F.col("__id").alias("id_b"),
            F.col("__v").alias("v_b"),
            F.col("__norm").alias("norm_b"),
            F.explode(F.sequence(F.lit(0), F.lit(num_blocks - 1))).alias("__i"),
        )
        .withColumn(
            "__bp",
            (F.col("__i") * b_blocks + F.pmod(F.xxhash64("id_b"), F.lit(b_blocks))).cast("int"),
        )
        .drop("__i")
    )
    # id fields mirror the INPUT id type (string ids etc. work like in
    # every other engine — a hardcoded int64 schema crashed on them)
    if id_type is None:
        id_type = withnorm.schema["__id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def kernel(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if left.empty or right.empty:
            return pd.DataFrame(
                {
                    "id_a": pd.Series([], dtype=left["id_a"].dtype),
                    "id_b": pd.Series([], dtype=right["id_b"].dtype),
                    "cosine": pd.Series([], dtype="float64"),
                }
            )
        # dtype preserved from Arrow: int ids stay ints, string ids
        # stay objects — the broadcast `<` below works for both
        a_ids = left["id_a"].to_numpy()
        b_ids = right["id_b"].to_numpy()
        a_mat = np.array(list(left["v_a"]), dtype=np.float64)
        b_mat = np.array(list(right["v_b"]), dtype=np.float64)
        a_norm = left["norm_a"].to_numpy(dtype=np.float64)
        b_norm = right["norm_b"].to_numpy(dtype=np.float64)
        scores = (a_mat @ b_mat.T) / (a_norm[:, None] * b_norm[None, :])
        scores = np.floor(scores * 1e6) / 1e6  # trunc_digits convention
        ai, bj = np.nonzero((scores >= threshold) & (a_ids[:, None] < b_ids[None, :]))
        return pd.DataFrame(
            {"id_a": a_ids[ai], "id_b": b_ids[bj], "cosine": scores[ai, bj]}
        )

    return (
        a.groupby("__bp")
        .cogroup(b.groupby("__bp"))
        .applyInPandas(kernel, out_schema)
    )


# --- Bloom-filter ingest gate -------------------------------------------
#
# The space-bounded front door of a 100 TB incremental-dedup pipeline:
# the corpus's content keys are summarized ONCE into a Bloom filter —
# ~1.2 GB at a billion documents / 1% fpp, vs terabytes for the key set
# itself — and every arriving batch probes it with a shuffle-free
# projection. Bloom-NEGATIVE rows (the bulk of a typical crawl batch)
# are PROVABLY novel and skip the exact machinery entirely; only the
# positives (true dups + ~fpp false positives) pay the confirmation
# join. Ref: the reference has no streaming-ingest analog; the design
# is the standard Bloom + exact-confirm two-phase gate (Bloom 1970,
# CACM 13(7)), sized by the textbook m = -n·ln p / ln²2 formula.


class BloomIngestFilter(NamedTuple):
    """A built Bloom filter: ``words`` is the bitset as ``num_bits/64``
    signed 64-bit words (dense, little-endian bit order within each
    word), probed with ``num_hashes`` Kirsch-Mitzenmacher double
    hashes. Carrying the geometry inside the artifact makes a
    mismatched probe impossible — the probe derives everything from
    the artifact, nothing from caller-repeated parameters."""

    words: tuple
    num_bits: int
    num_hashes: int
    num_items: int
    fpp: float


def _bloom_hashes(cols) -> "tuple[F.Column, F.Column]":
    """The two base hashes h1/h2 shared by build and probe — both
    JVM-side xxhash64 (whole-stage codegen), the probe's positions are
    (h1 + i·h2) mod m for i in 0..k-1 (Kirsch & Mitzenmacher 2006:
    two hashes simulate k with no asymptotic fpp loss). The salt
    literal de-correlates h2 from h1."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.xxhash64(*cs), F.xxhash64(F.lit("__bloom_h2__"), *cs)


def _bloom_positions(h1: "F.Column", h2: "F.Column", i: "F.Column", m: int) -> "F.Column":
    # pmod BEFORE the combine: (h1 mod m) + i·(h2 mod m) stays far from
    # int64 overflow for any sane m (≤ ~1e17/k), so the arithmetic is
    # identical with or without ANSI mode
    return F.pmod(
        F.pmod(h1, F.lit(m)) + i.cast("bigint") * F.pmod(h2, F.lit(m)), F.lit(m)
    )


def build_bloom_ingest_filter(
    corpus_df: DataFrame,
    on=("text",),
    expected_items: Optional[int] = None,
    fpp: float = 0.01,
) -> BloomIngestFilter:
    """Summarize the corpus's key columns into a ``BloomIngestFilter``.

    ONE distributed pass: each row emits its k bit positions (an
    ``explode(sequence)`` projection), positions aggregate into 64-bit
    words with a map-side-combining ``bit_or`` groupBy on the word
    index — the only shuffle moves at most ``m/64`` tiny rows — and
    the dense bitset collects to the driver (``m/8`` bytes, the
    artifact). ``expected_items`` skips the sizing ``count()`` when
    the caller already knows the corpus cardinality (e.g. from a
    catalog statistic); the geometry is the textbook optimum
    m = ceil(-n·ln p / ln²2), k = round(m/n·ln 2).

    An EMPTY corpus is legal and useful (day-zero ingest): the filter
    is all-zeros and every probe is provably negative.
    """
    import math

    n = expected_items if expected_items is not None else corpus_df.count()
    if n < 0:
        raise ValueError(f"expected_items must be >= 0, got {n}")
    if not (0.0 < fpp < 1.0):
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    m = max(64, int(math.ceil(-max(n, 1) * math.log(fpp) / (math.log(2) ** 2))))
    m = ((m + 63) // 64) * 64
    k = max(1, round(m / max(n, 1) * math.log(2)))
    h1, h2 = _bloom_hashes(on)
    words_rows = (
        corpus_df.select(
            h1.alias("__bh1"),
            h2.alias("__bh2"),
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__i"),
        )
        .select(
            _bloom_positions(
                F.col("__bh1"), F.col("__bh2"), F.col("__i"), m
            ).alias("__pos")
        )
        .select(
            (F.col("__pos") / 64).cast("int").alias("__w"),
            F.expr("shiftleft(1L, cast(__pos % 64 AS int))").alias("__bit"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__bit").alias("__word"))
        .collect()
    )
    words = [0] * (m // 64)
    for r in words_rows:
        words[r["__w"]] = r["__word"]
    return BloomIngestFilter(tuple(words), m, k, n, fpp)


def bloom_might_contain(
    df: DataFrame,
    bloom: BloomIngestFilter,
    on=("text",),
    result_col: str = "maybe_dup",
    max_literal_words: int = 1 << 20,
) -> DataFrame:
    """Probe: adds a boolean ``result_col`` — False is PROOF the key
    was not in the summarized corpus (no false negatives), True means
    "in the corpus, or a ~fpp accident". Zero shuffle either way.

    Two physical routes, value-identical (tested):

    - bitset ≤ ``max_literal_words`` words (default 8 MB): the words
      ship as ONE ``from_json``-folded plan literal and the probe is a
      pure JVM projection — ``forall`` over the k double-hash
      positions, ``element_at`` + shift into the literal array.
    - beyond: the bitset rides a TorrentBroadcast as a numpy array and
      the probe is an Arrow-batched pandas UDF over the SAME
      JVM-computed h1/h2 (hashing never moves to Python — only the
      vectorized bit lookups do), so a multi-GB filter is shipped
      once per executor instead of being unparseable plan text.
    """
    m, k = bloom.num_bits, bloom.num_hashes
    h1, h2 = _bloom_hashes(on)
    if len(bloom.words) <= max_literal_words:
        from aws_data_wrangler_spark.operators.similarity import _nested_lit

        words_lit = _nested_lit(list(bloom.words), "array<bigint>")

        def bit_set(i: "F.Column") -> "F.Column":
            pos = _bloom_positions(F.col("__bh1"), F.col("__bh2"), i, m)
            word = F.element_at(words_lit, (pos / 64).cast("int") + 1)
            return (
                F.call_function(
                    "shiftright", word, F.pmod(pos, F.lit(64)).cast("int")
                ).bitwiseAND(F.lit(1))
                == 1
            )

        return (
            df.withColumn("__bh1", h1)
            .withColumn("__bh2", h2)
            .withColumn(
                result_col, F.forall(F.sequence(F.lit(0), F.lit(k - 1)), bit_set)
            )
            .drop("__bh1", "__bh2")
        )

    import numpy as np
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import pandas_udf

    spark = SparkSession.getActiveSession()
    bits_bc = spark.sparkContext.broadcast(
        np.array(bloom.words, dtype=np.int64).view(np.uint64)
    )

    def probe(h1s, h2s):
        bits = bits_bc.value
        # the _bloom_positions identity, vectorized: reduce mod m FIRST
        # (numpy % follows floor-mod, matching JVM pmod), so a,b < m ≤
        # ~1e17 and a + i·b stays inside int64 for any sane k — true
        # vectorized int64 end-to-end, never per-element Python ints
        a = h1s.to_numpy(dtype=np.int64) % m
        b = h2s.to_numpy(dtype=np.int64) % m
        hit = np.ones(len(a), dtype=bool)
        for i in range(k):
            pos = (a + i * b) % m
            hit &= (bits[pos // 64] >> (pos % 64).astype(np.uint64)) & 1 == 1
        return pd.Series(hit)

    # explicit (fn, type) form: the module-wide `from __future__ import
    # annotations` turns hints into strings the UDF inferrer can't
    # resolve against function-local imports
    probe_udf = pandas_udf(probe, "boolean")
    return df.withColumn(result_col, probe_udf(h1, h2))


def bloom_ingest_gate(
    batch_df: DataFrame,
    bloom: BloomIngestFilter,
    corpus_df: Optional[DataFrame] = None,
    on=("text",),
    verdict_col: str = "is_dup",
    broadcast_positives: Optional[bool] = True,
    max_literal_words: int = 1 << 20,
) -> DataFrame:
    """The two-phase ingest gate: batch rows get an EXACT ``verdict_col``
    ("this key already exists in the corpus") for the Bloom-prefilter
    price. Phase 1 marks each row ``maybe_dup`` (shuffle-free probe);
    phase 2 confirms only the positives against ``corpus_df`` — the
    corpus is scanned ONCE, column-pruned to the key columns, and
    semi-joined against the positives' key set, so the 100 TB side is
    never shuffled and the ~fpp false positives are removed. With
    ``corpus_df=None`` the verdict is the raw (approximate) Bloom
    answer, renamed — the monitoring/estimation shape.

    ``broadcast_positives`` is the ``duplicated_lines`` tri-state:
    True forces the positive key set broadcast (right for the
    daily-batch << corpus norm), None lets AQE pick from runtime
    sizes, False forces a shuffle join (the escape for a giant batch
    re-ingesting a giant corpus — e.g. a full re-crawl).
    """
    if corpus_df is not None and any(not isinstance(c, str) for c in on):
        raise TypeError(
            "bloom_ingest_gate with a confirm corpus needs column NAMES "
            "(strings) in `on` — the confirm join selects them by name"
        )
    probed = bloom_might_contain(
        batch_df, bloom, on, "__bloom_maybe", max_literal_words
    )
    if corpus_df is None:
        return probed.withColumnRenamed("__bloom_maybe", verdict_col)
    key_cols = list(on)
    pos_keys = (
        probed.filter(F.col("__bloom_maybe")).select(*key_cols).distinct()
    )
    if broadcast_positives:
        pos_keys = F.broadcast(pos_keys)
    elif broadcast_positives is False:
        pos_keys = pos_keys.hint("shuffle_hash")
    confirmed = (
        corpus_df.select(*key_cols)
        .join(pos_keys, key_cols, "leftsemi")
        .distinct()
        .withColumn("__bloom_hit", F.lit(True))
    )
    # None = AQE decides BOTH joins from runtime sizes (the tri-state
    # contract); only explicit True forces the broadcasts
    if broadcast_positives:
        confirmed = F.broadcast(confirmed)
    return (
        probed.join(confirmed, key_cols, "left")
        .withColumn(
            verdict_col,
            F.col("__bloom_maybe") & F.coalesce(F.col("__bloom_hit"), F.lit(False)),
        )
        .drop("__bloom_maybe", "__bloom_hit")
    )


def save_bloom_ingest_filter(bloom: BloomIngestFilter, path: str, spark=None) -> None:
    """Persist the filter as a single JSON artifact (ints round-trip
    exactly), any Hadoop-FS URI — the ``save_pq_codebooks`` pattern."""
    from aws_data_wrangler_spark.s3._fs import _write_json_artifact

    payload = {
        "words": list(bloom.words),
        "num_bits": bloom.num_bits,
        "num_hashes": bloom.num_hashes,
        "num_items": bloom.num_items,
        "fpp": bloom.fpp,
    }
    _write_json_artifact("bloom_ingest_filter", payload, path, spark=spark)


def load_bloom_ingest_filter(path: str, spark=None) -> BloomIngestFilter:
    from aws_data_wrangler_spark.s3._fs import _read_json_artifact

    d = _read_json_artifact("bloom_ingest_filter", path, spark=spark)
    if d["num_bits"] != 64 * len(d["words"]):
        raise ValueError(
            f"corrupt bloom artifact at {path}: num_bits={d['num_bits']} "
            f"!= 64 * {len(d['words'])} words"
        )
    return BloomIngestFilter(
        tuple(d["words"]), d["num_bits"], d["num_hashes"], d["num_items"], d["fpp"]
    )


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    id_col: str = "doc_id",
    content_cols=("text",),
) -> DataFrame:
    """Corpus-versioning diff between two snapshots: (id, change) with
    ``change`` ∈ added / removed / changed — the audit primitive behind
    "what actually moved between yesterday's corpus and today's" before
    re-running downstream dedup/training. Unchanged rows are excluded
    (at 100 TB they are ~everything; emitting them would make the diff
    corpus-sized instead of delta-sized).

    Content identity is md5 over the concatenated ``content_cols``
    (NULL-tagged so ``("a", NULL)`` ≠ ``("aNULL-marker",)``), computed
    map-side — the full-outer join then moves (id, hash) pairs only,
    never content. The join shuffles both sides on the id; with both
    snapshots bucketed by id (``catalog.create_bucketed_table``) it is
    co-located and shuffle-free — the shape a daily diff job wants.

    Ref: no reference analog (awswrangler has no versioning surface);
    the contract mirrors table-format change-data-feed semantics.
    """
    def keyed(df: DataFrame, tag: str) -> DataFrame:
        parts = []
        for c in content_cols:
            parts.append(F.coalesce(F.col(c).cast("string"), F.lit("\x00null")))
            parts.append(F.lit("\x1f"))  # unit separator: ("ab","c") != ("a","bc")
        return df.select(
            F.col(id_col),
            F.md5(F.concat(*parts)).alias(f"{tag}_hash"),
        )

    o = keyed(old_df, "old")
    n = keyed(new_df, "new")
    return (
        o.join(n, id_col, "full_outer")
        .withColumn(
            "change",
            F.when(F.col("old_hash").isNull(), F.lit("added"))
            .when(F.col("new_hash").isNull(), F.lit("removed"))
            .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed")),
        )
        .filter(F.col("change").isNotNull())
        .select(id_col, "change")
    )


def save_minhash_corpus_state(
    state: MinHashCorpusState, path: str, spark=None
) -> None:
    """Persist the incremental-dedup corpus artifact as a dataset: the
    shingle and band tables as two parquet sub-datasets plus a JSON
    meta sidecar carrying (n, num_hashes, bands) — the parameters
    travel WITH the artifact, so a reload can never silently band-join
    against a mismatched geometry. This is the production shape the
    ``minhash_corpus_state`` docstring promises: build once, persist,
    and every nightly batch reloads two parquet scans instead of
    re-mining corpus text."""
    from aws_data_wrangler_spark.s3._fs import _write_json_artifact

    root = path.rstrip("/")
    state.shingles.write.mode("overwrite").parquet(f"{root}/shingles")
    state.band_rows.write.mode("overwrite").parquet(f"{root}/band_rows")
    meta = {"n": state.n, "num_hashes": state.num_hashes, "bands": state.bands}
    _write_json_artifact("minhash_corpus_state", meta, f"{root}/_minhash_meta.json", spark=spark)


def load_minhash_corpus_state(spark, path: str) -> MinHashCorpusState:
    """Reload a ``save_minhash_corpus_state`` artifact. The meta
    sidecar restores the MinHash geometry, so
    ``minhash_lsh_incremental(corpus_state=...)`` keeps rejecting
    mismatched batch parameters exactly as with a freshly built
    state."""
    from aws_data_wrangler_spark.s3._fs import _read_json_artifact

    root = path.rstrip("/")
    meta = _read_json_artifact("minhash_corpus_state", f"{root}/_minhash_meta.json", spark=spark)
    return MinHashCorpusState(
        spark.read.parquet(f"{root}/shingles"),
        spark.read.parquet(f"{root}/band_rows"),
        meta["n"],
        meta["num_hashes"],
        meta["bands"],
    )
