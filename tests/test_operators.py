"""Operator semantics + recall tests for approximate variants —
SURVEY.md §5 items 2–3."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_data_wrangler_spark.operators import dedup, multimodal, similarity, text


class TestDedup:
    def test_exact_dedup_with_planted_duplicates(self, spark, documents):
        # plant duplicates: append copies of 5 docs with new ids
        copies = documents.limit(5).withColumn("doc_id", F.col("doc_id") + 100000)
        corpus = documents.unionByName(copies)
        groups = dedup.exact_duplicates(corpus)
        dup_groups = groups.filter("dup_cnt > 1")
        assert dup_groups.count() == 5
        # representative = min id = the original
        assert dup_groups.filter("keep_id >= 100000").count() == 0
        kept = dedup.dedup_exact(corpus)
        assert kept.count() == documents.count()

    def test_ngram_jaccard_identical_docs_score_one(self, spark, documents):
        copies = documents.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
        corpus = documents.limit(3).unionByName(copies)
        pairs = dedup.ngram_jaccard_pairs(corpus, threshold=0.99)
        rows = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
        for (a, b), j in rows.items():
            assert b == a + 100000
            assert j == 1.0
        assert len(rows) == 3

    def test_containment_hand_computed_and_asymmetric(self, spark):
        # A = 'a b c d e' -> shingles {abc,bcd,cde} (3); B = 'x a b c
        # d e y' -> {xab,abc,bcd,cde,dey} (5); common = 3. Containment
        # of A in B = 3/3 = 1.0 (subset-duplicate: the signal Jaccard
        # misses — resemblance here is only 3/5), reverse = 3/5 = 0.6;
        # C shares nothing and must not appear.
        docs = spark.createDataFrame(
            [(1, "a b c d e"), (2, "x a b c d e y"), (3, "p q r s t u")],
            "doc_id long, text string",
        )
        rows = {
            (r["id_contained"], r["id_container"]): r["containment"]
            for r in dedup.containment_pairs(
                docs, threshold=0.0, max_doc_frequency=None
            ).collect()
        }
        assert rows == {(1, 2): 1.0, (2, 1): 0.6}
        # the threshold filters DIRECTIONALLY: at 0.9 only the
        # contained->container row survives
        kept = dedup.containment_pairs(
            docs, threshold=0.9, max_doc_frequency=None
        ).collect()
        assert [(r["id_contained"], r["id_container"]) for r in kept] == [(1, 2)]
        # agreement with the jaccard core on mutual near-identity:
        # identical docs contain each other at 1.0 both ways
        twins = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d e")], "doc_id long, text string"
        )
        both = dedup.containment_pairs(twins, threshold=0.99, max_doc_frequency=None)
        assert {(r["id_contained"], r["id_container"]) for r in both.collect()} == {
            (1, 2), (2, 1),
        }

    def test_minhash_lsh_recall_vs_exact(self, spark, documents):
        exact = dedup.ngram_jaccard_pairs(documents, threshold=0.8)
        lsh = dedup.minhash_lsh_pairs(documents, num_hashes=64, bands=32, threshold=0.8)
        exact_set = {(r["id_a"], r["id_b"]) for r in exact.collect()}
        lsh_rows = sorted(tuple(r) for r in lsh.collect())
        lsh_set = {(a, b) for a, b, _ in lsh_rows}
        # the exact list the exploded-shingle implementation returned at
        # this non-default width
        assert lsh_rows == [
            (0, 50, 0.95238), (0, 82, 0.954545), (5, 450, 0.975609), (8, 12, 0.973684),
            (8, 120, 0.986486), (8, 360, 0.986666), (12, 120, 0.960526), (12, 360, 0.986842),
            (16, 369, 0.988235), (26, 176, 0.988505), (33, 436, 0.888888), (45, 487, 0.964285),
            (50, 82, 0.90909), (56, 157, 0.981481), (77, 459, 0.987179), (89, 114, 0.928571),
            (99, 174, 0.988095), (110, 467, 0.98913), (119, 425, 0.971428), (120, 360, 0.973333),
            (144, 161, 0.988636), (211, 404, 0.984615), (229, 263, 0.956521), (260, 391, 0.988764),
            (270, 329, 0.988095), (328, 428, 0.974358), (349, 411, 0.980769), (474, 498, 0.989361),
        ]
        assert lsh_set <= exact_set or lsh_set == exact_set  # precision 1.0 (verified)
        if exact_set:
            recall = len(lsh_set & exact_set) / len(exact_set)
            assert recall >= 0.95

    def test_minhash_lsh_pairs_edge_cases_keep_their_values(self, spark):
        # values pinned from the exploded-shingle implementation the
        # one-set-table plan replaced; the hashed 3-shingle sets below
        # make each jaccard checkable by hand
        def pairs(df, **kwargs):
            return sorted(tuple(r) for r in dedup.minhash_lsh_pairs(df, **kwargs).collect())

        schema = "doc_id long, text string"
        # rows sharing an id are ONE document: id 1's two rows union to
        # 8 of id 2's 10 shingles (0.8); id 3 is one row twice, 4 of id
        # 4's 5 shingles (0.8); 5 and 6 share 3 of 5 shingles (0.6)
        dup = spark.createDataFrame(
            [
                (1, "a b c d e f"), (1, "g h i j k l"), (2, "a b c d e f g h i j k l"),
                (3, "m n o p q r"), (3, "m n o p q r"), (4, "m n o p q r s"),
                (5, "t u v w x y"), (6, "t u v w x z"),
            ],
            schema,
        )
        assert pairs(dup, threshold=0.1) == [(1, 2, 0.8), (3, 4, 0.8), (5, 6, 0.6)]
        # shorter than n tokens, null and empty text: no shingles, no pairs
        short = spark.createDataFrame(
            [(1, "a b"), (2, None), (3, "x y z w"), (4, "x y z w"), (5, ""), (6, "a b")], schema
        )
        assert pairs(short, threshold=0.1) == [(3, 4, 1.0)]
        empty = dedup.minhash_lsh_pairs(spark.createDataFrame([], schema))
        assert empty.collect() == []
        assert empty.schema.simpleString() == "struct<id_a:bigint,id_b:bigint,jaccard:double>"
        # the document-frequency cap: "common boiler plate" and "boiler
        # plate header" sit in 5 rows, "alpha beta gamma" / "beta gamma
        # delta" / "gamma delta eps" in 3, "delta eps zeta" in 2
        cap = spark.createDataFrame(
            [(i, f"common boiler plate header u{i} v{i} w{i} x") for i in range(4)]
            + [
                (10, "alpha beta gamma delta eps zeta"),
                (11, "alpha beta gamma delta eps eta"),
                (12, "common boiler plate header alpha beta gamma delta eps zeta"),
            ],
            schema,
        )
        assert pairs(cap, threshold=0.1) == [(1, 2, 0.2), (10, 11, 0.6), (10, 12, 0.5)]
        assert pairs(cap, threshold=0.1, max_doc_frequency=3) == [
            (10, 11, 0.6), (10, 12, 0.666666), (11, 12, 0.428571),
        ]
        assert pairs(cap, threshold=0.1, max_doc_frequency=2) == [(10, 12, 0.333333)]

    @staticmethod
    def _planted_near_dups(spark, n_docs=80):
        """``n_docs`` random 40-word docs over a 400-word vocabulary, of
        which docs 0-9 have a copy (id + 1000) with one word replaced;
        returns the frame and the expected {(id_a, id_b): jaccard}."""
        import random

        rng = random.Random(7)
        texts = {i: [f"w{rng.randrange(400)}" for _ in range(40)] for i in range(n_docs)}
        for i in range(10):
            copy = list(texts[i])
            copy[20] = "planted"
            texts[i + 1000] = copy

        def shingles(toks):
            return {tuple(toks[k : k + 3]) for k in range(len(toks) - 2)}

        want = {}
        for i in range(10):
            a, b = shingles(texts[i]), shingles(texts[i + 1000])
            want[(i, i + 1000)] = len(a & b) / len(a | b)
        df = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in texts.items()], "doc_id long, text string"
        )
        return df, want

    def test_minhash_lsh_pairs_job_and_plan_build_budget(self, spark, monkeypatch):
        # one materialized shingle-set table and one parsed expression per
        # hash family: the exploded-shingle / band-row / candidate caches
        # cost 19 Spark jobs a call, and the Column-by-Column hash
        # families ~5,000 Py4J round trips before any job started
        docs, want = self._planted_near_dups(spark)
        client = spark.sparkContext._gateway._gateway_client
        calls = []
        send = client.send_command

        def counting(*args, **kwargs):
            calls.append(1)
            return send(*args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counting)
            result = dedup.minhash_lsh_pairs(docs, threshold=0.5)
        sc = spark.sparkContext
        sc.setJobGroup("minhash-lsh-budget", "minhash-lsh-budget")
        try:
            got = result.toPandas()
        finally:
            sc.setJobGroup(None, None)
        jobs = len(sc.statusTracker().getJobIdsForGroup("minhash-lsh-budget"))
        dedup.release_batch_state(result, blocking=True)
        found = {(int(a), int(b)): j for a, b, j in got.itertuples(index=False)}
        assert found.keys() == want.keys()
        assert all(abs(found[k] - want[k]) <= 1e-6 for k in want)
        assert jobs <= 10, f"{jobs} jobs"
        assert len(calls) <= 1000, f"{len(calls)} Py4J round trips to build the plan"

    def test_minhash_lsh_pairs_broadcasts_candidate_ids_not_pairs(self, spark):
        # one cluster of 60 exact copies is 1,770 candidate pairs: the one
        # forced broadcast must stay the distinct candidate ids (60 rows),
        # never the pair table, which grows with the square of the cluster
        from aws_data_wrangler_spark.plans.audit import forced_broadcasts

        rows = [(i, "the same boiler plate page for every copy") for i in range(60)]
        rows += [(100 + i, f"unique doc {i} with words a{i} b{i} c{i}") for i in range(20)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        pairs = dedup.minhash_lsh_pairs(docs)
        try:
            assert forced_broadcasts(pairs)
            assert all(cols == ["doc_id"] for cols in forced_broadcasts(pairs))
            got = pairs.collect()
            assert len(got) == 60 * 59 // 2
            assert {r["jaccard"] for r in got} == {1.0}
            assert all(r["id_b"] < 60 for r in got)
        finally:
            dedup.release_batch_state(pairs, blocking=True)

    def test_minhash_lsh_pairs_and_semdedup_release_their_caches(self, spark, embeddings):
        # each result carries its cache; releasing it unpersists every RDD
        # the call persisted. Tracked by RDD id, not by count: the context
        # cleaner may free earlier tests' garbage at any moment (fresh
        # inputs, so no earlier test's cache entry can be hit or freed)
        import random

        def persisted():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

        docs, _ = self._planted_near_dups(spark, n_docs=30)
        before = persisted()
        pairs = dedup.minhash_lsh_pairs(docs, threshold=0.5)
        assert pairs.count() == 10
        made = persisted() - before
        assert made
        assert dedup.release_batch_state(pairs, blocking=True) == 2
        assert not made & persisted()

        rng = random.Random(3)
        vecs = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(40)]
        rows = [(i, v) for i, v in enumerate(vecs)]
        rows += [(i + 100, [x + 0.001 for x in vecs[i]]) for i in range(5)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        for run in (dedup.semdedup, dedup.semdedup_prune):
            before = persisted()
            result = run(emb, num_clusters=4, iterations=0)
            result.collect()
            made = persisted() - before
            assert made
            # the cell assignment and the grouping's label snapshot
            assert dedup.release_batch_state(result, blocking=True) == 2
            assert not made & persisted()

    def test_simhash_finds_identical_docs(self, spark, documents):
        copies = documents.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
        corpus = documents.limit(50).unionByName(copies)
        pairs = dedup.simhash_pairs(corpus, max_hamming=3)
        found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        for i in range(3):
            assert any(a == i and b == i + 100000 for a, b in found)

    def test_duplicated_spans_finds_shared_passage(self, spark):
        # two docs share an 8-token passage (≥ k=5 ⇒ detectable), one
        # doc is fully unique; spans must be maximal and positioned
        shared = "alpha beta gamma delta epsilon zeta eta theta"
        docs = spark.createDataFrame(
            [
                (1, f"intro one two {shared} outro aaa bbb"),
                (2, f"{shared} completely different tail here now"),
                (3, "nothing in common with anybody else at all ever"),
            ],
            "doc_id long, text string",
        )
        spans = {
            r["doc_id"]: (r["span_start"], r["span_end"], r["span_tokens"])
            for r in dedup.duplicated_spans(docs, k=5).collect()
        }
        # doc 1: shared passage occupies tokens 3..10; doc 2: tokens 0..7
        assert spans[1] == (3, 10, 8)
        assert spans[2] == (0, 7, 8)
        assert 3 not in spans

    def test_duplicated_spans_merges_adjacent_windows(self, spark):
        # a long shared run must come back as ONE maximal span, not one
        # span per overlapping 5-gram window
        text = " ".join(f"w{i}" for i in range(20))
        docs = spark.createDataFrame(
            [(1, text + " unique1 only1"), (2, text + " other2 stuff2")],
            "doc_id long, text string",
        )
        rows = dedup.duplicated_spans(docs, k=5).collect()
        per_doc = {}
        for r in rows:
            per_doc.setdefault(r["doc_id"], []).append(r)
        assert all(len(v) == 1 for v in per_doc.values())
        assert all(v[0]["span_tokens"] == 20 for v in per_doc.values())

    def test_duplicated_lines_distinct_doc_frequency(self, spark):
        # "repeat me" repeats WITHIN doc 1 only → df counts distinct
        # docs, so it is never flagged; the 3-doc boilerplate line is
        # flagged at every occurrence; blank/whitespace lines never are
        docs = spark.createDataFrame(
            [
                (1, "unique alpha\nSHARED LINE\n\nbody one\nrepeat me\nrepeat me"),
                (2, "SHARED LINE\nbody two\n  \nx"),
                (3, "SHARED LINE"),
                (4, "all original\ncontent here"),
            ],
            "doc_id long, text string",
        )
        rows = dedup.duplicated_lines(docs).collect()
        assert {(r["doc_id"], r["line_no"]) for r in rows} == {(1, 1), (2, 0), (3, 0)}
        assert all(r["line"] == "SHARED LINE" and r["line_df"] == 3 for r in rows)

    def test_remove_duplicated_lines_strict_policy(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "unique alpha\nSHARED LINE\n\nbody one"),
                (2, "SHARED LINE\nbody two"),
                (3, "SHARED LINE"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (r["text"], r["n_lines"], r["n_removed"])
            for r in dedup.remove_duplicated_lines(docs).collect()
        }
        # every occurrence removed everywhere; order and blank lines
        # preserved; the all-boilerplate doc keeps its row with ''
        assert out[1] == ("unique alpha\n\nbody one", 4, 1)
        assert out[2] == ("body two", 2, 1)
        assert out[3] == ("", 1, 1)

    def test_duplicated_lines_broadcasts_under_planted_skew(self, spark):
        from aws_data_wrangler_spark.plans.audit import plan_summary

        # one boilerplate line in 50% of docs — the heaviest possible
        # join-key skew. The verdict join must broadcast the (tiny)
        # dup-line table, which removes the skewed shuffle entirely.
        docs = spark.createDataFrame(
            [
                (i, f"unique {i} alpha\nCOOKIE BANNER\nbody {i}")
                if i % 2 == 0
                else (i, f"unique {i} beta\nbody {i}")
                for i in range(100)
            ],
            "doc_id long, text string",
        )
        verdicts = dedup.duplicated_lines(docs)
        s = plan_summary(verdicts)
        assert s["broadcast_hash_joins"] >= 1 and s["sort_merge_joins"] == 0, s["plan"]
        rows = verdicts.collect()
        assert len(rows) == 50
        assert all(r["line"] == "COOKIE BANNER" and r["line_df"] == 50 for r in rows)
        # forced-shuffle path (huge-vocabulary escape) returns
        # identical verdicts through a sort-merge join
        off = dedup.duplicated_lines(docs, broadcast_verdicts=False)
        s_off = plan_summary(off)
        assert s_off["sort_merge_joins"] >= 1, s_off["plan"]
        assert {(r["doc_id"], r["line_no"]) for r in off.collect()} == {
            (r["doc_id"], r["line_no"]) for r in rows
        }
        # AQE-decides path: no forced hint, same verdicts
        auto = dedup.duplicated_lines(docs, broadcast_verdicts=None).collect()
        assert {(r["doc_id"], r["line_no"]) for r in auto} == {
            (r["doc_id"], r["line_no"]) for r in rows
        }

    def test_cluster_pairs_transitive(self, spark):
        # chain 1-2, 2-3 plus isolated pair 10-11 → clusters {1,2,3} and {10,11}
        pairs = spark.createDataFrame(
            [(1, 2, 1.0), (2, 3, 1.0), (10, 11, 1.0)], "id_a long, id_b long, jaccard double"
        )
        members = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11]], "doc_id long")
        labels = {r["doc_id"]: r["cluster_id"] for r in dedup.cluster_pairs(pairs, members).collect()}
        assert labels == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}

    def test_embedding_near_dup_planted(self, spark, embeddings):
        twin = embeddings.limit(2).withColumn("vec_id", F.col("vec_id") + 100000)
        corpus = embeddings.unionByName(twin)
        pairs = dedup.embedding_near_dup_pairs(corpus, threshold=0.999)
        found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
        assert (0, 100000) in found and (1, 100001) in found

    def test_semdedup_keeps_one_per_twin_group(self, spark, embeddings):
        # planted twins at cosine ≈ 0.9999: every same-cell twin pair
        # must form a duplicate group that keeps exactly one member
        twins = embeddings.limit(20).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x, i: x + F.lit(0.01) * (i % 5 - 2),
            ).alias("embedding"),
            "label",
        )
        corpus = embeddings.unionByName(twins)
        rows = dedup.semdedup(corpus, num_clusters=8, eps=0.05, iterations=2).collect()
        groups = {}
        for r in rows:
            groups.setdefault(r["group_id"], []).append(r)
        assert len(groups) >= 15  # near-all twin pairs land in one cell
        for members in groups.values():
            assert sum(m["keep"] for m in members) == 1
            # keep='farthest': the kept member has the group-min centroid_cos
            kept = next(m for m in members if m["keep"])
            assert kept["centroid_cos"] == min(m["centroid_cos"] for m in members)

    def test_semdedup_prune_and_closest_policy(self, spark, embeddings):
        twins = embeddings.limit(10).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x, i: x + F.lit(0.01) * (i % 5 - 2),
            ).alias("embedding"),
            "label",
        )
        corpus = embeddings.unionByName(twins)
        n = corpus.count()
        verdicts = dedup.semdedup(corpus, num_clusters=8, eps=0.05, iterations=2, keep="closest")
        dropped = verdicts.filter(~F.col("keep")).count()
        groups = {}
        for r in verdicts.collect():
            groups.setdefault(r["group_id"], []).append(r)
        for members in groups.values():
            kept = next(m for m in members if m["keep"])
            assert kept["centroid_cos"] == max(m["centroid_cos"] for m in members)
        pruned = dedup.semdedup_prune(corpus, num_clusters=8, eps=0.05, iterations=2, keep="closest")
        assert pruned.count() == n - dropped

    def test_semdedup_assignment_stays_broadcast_and_caps_k(self, spark, embeddings):
        import warnings as _warnings

        from aws_data_wrangler_spark.plans.audit import plan_summary

        # at recommended cluster counts the assignment is a zero-join
        # literal-argmin projection: no CartesianProduct, no
        # BroadcastNestedLoopJoin anywhere in the pipeline
        verdicts = dedup.semdedup(embeddings, num_clusters=8, eps=0.05, iterations=0)
        s = plan_summary(verdicts)
        assert s["cartesian_products"] == 0, s["plan"]
        assert s["broadcast_nested_loop_joins"] == 0, s["plan"]
        # past the guidance cap: warn (inline-training path knows k for free)
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            dedup.semdedup(embeddings, num_clusters=200_000, iterations=0)
            assert any("1e5" in str(w.message) for w in caught)
        # past the broadcast bound: refuse
        with pytest.raises(ValueError, match="num_clusters"):
            dedup.semdedup(embeddings, num_clusters=2_000_000, iterations=0)

    def test_semdedup_two_level_assignment_past_the_flat_bound(self, spark):
        # k > 1e5 pre-trained centroids: assignment must route through
        # the two-level coarse quantizer — no n×k fan-out, no
        # nested-loop join, one broadcast-hash join on the super-cell
        # key — and every point's (cell, ccos) must match a numpy
        # replica of the documented two-level semantics exactly.
        import numpy as np

        from aws_data_wrangler_spark.operators.similarity import _two_level_assign
        from aws_data_wrangler_spark.plans.audit import plan_summary

        rng = np.random.RandomState(7)
        k, dim, n_pts = 100_001, 4, 20
        cvecs = rng.standard_normal((k, dim))
        cents = spark.createDataFrame(
            [(int(i), [float(x) for x in cvecs[i]]) for i in range(k)],
            "cid int, cvec array<double>",
        )
        pvecs = rng.standard_normal((n_pts, dim))
        pts = spark.createDataFrame(
            [(int(i), [float(x) for x in pvecs[i]]) for i in range(n_pts)],
            "__id int, __v array<double>",
        ).withColumn(
            "__norm",
            F.sqrt(F.aggregate(F.transform("__v", lambda x: x * x), F.lit(0.0), lambda a, x: a + x)),
        )
        out = _two_level_assign(pts, ["__id"], F.col("__v"), F.col("__norm"), "cosine", cents)
        s = plan_summary(out)
        assert s["cartesian_products"] == 0, s["plan"]
        assert s["broadcast_nested_loop_joins"] == 0, s["plan"]
        assert s["broadcast_hash_joins"] >= 1, s["plan"]
        rows = {
            int(r["__id"]): (int(r["cid"]), float(np.floor(-r["key"] * 1e6) / 1e6))
            for r in out.collect()
        }
        assert len(rows) == n_pts  # one row per point: no fan-out survives

        # numpy replica: supers = first ceil(sqrt(k))-bounded cids,
        # centroids assigned to their nearest super, point argmax
        # within its super-cell's children
        n_super = max(1, min(1024, int(k ** 0.5) + 1))
        sup = cvecs[:n_super]
        cos = lambda a, b: (a @ b.T) / (
            np.linalg.norm(a, axis=1)[:, None] * np.linalg.norm(b, axis=1)[None, :]
        )
        child_super = np.argmax(cos(cvecs, sup), axis=1)
        pt_super = np.argmax(cos(pvecs, sup), axis=1)
        for i in range(n_pts):
            members = np.where(child_super == pt_super[i])[0]
            scores = cos(pvecs[i : i + 1], cvecs[members])[0]
            best = members[int(np.argmax(scores))]
            got_cell, got_ccos = rows[i]
            assert got_cell == int(best), (i, got_cell, int(best))
            expect = float(np.floor(np.max(scores) * 1e6) / 1e6)
            assert abs(got_ccos - expect) < 2e-6, (i, got_ccos, expect)

    def test_semdedup_routes_two_level_past_the_flat_bound(self, spark):
        # the public entry point, not the private assigner: a
        # 100_001-row centroid table must send semdedup's assignment
        # through the two-level quantizer (broadcast-hash join on the
        # super-cell key, no nested loop), and every verdict's
        # (cell, centroid_cos) must match the numpy replica
        import re

        import numpy as np

        from aws_data_wrangler_spark.plans.audit import plan_summary

        rng = np.random.RandomState(5)
        k, dim, n_base = 100_001, 4, 15
        cvecs = rng.standard_normal((k, dim))
        cents = spark.createDataFrame(
            [(int(i), [float(x) for x in cvecs[i]]) for i in range(k)],
            "cid int, cvec array<double>",
        )
        base = rng.standard_normal((n_base, dim))
        # planted duplicates: each base vector plus a ~1e-7 nudge
        pvecs = np.vstack([base, base + 1e-7 * rng.standard_normal((n_base, dim))])
        pts = spark.createDataFrame(
            [(int(i), [float(x) for x in pvecs[i]]) for i in range(len(pvecs))],
            "vec_id int, embedding array<double>",
        )
        verdicts = dedup.semdedup(pts, centroids=cents, eps=0.05)
        s = plan_summary(verdicts)
        assert re.search(r"BroadcastHashJoin \[__scell#", s["plan"]), s["plan"]
        assert s["broadcast_nested_loop_joins"] == 0, s["plan"]
        assert s["cartesian_products"] == 0, s["plan"]
        rows = verdicts.collect()
        twins_found = {r["vec_id"] % n_base for r in rows}
        assert len(twins_found) >= n_base - 2, twins_found  # near-all twins share a cell

        n_super = max(1, min(1024, int(k ** 0.5) + 1))
        norm = lambda a: np.linalg.norm(a, axis=1)
        cos = lambda a, b: (a @ b.T) / (norm(a)[:, None] * norm(b)[None, :])
        child_super = np.argmax(cos(cvecs, cvecs[:n_super]), axis=1)
        for r in rows:
            v = pvecs[r["vec_id"] : r["vec_id"] + 1]
            members = np.where(child_super == np.argmax(cos(v, cvecs[:n_super])[0]))[0]
            scores = cos(v, cvecs[members])[0]
            assert r["cell"] == int(members[int(np.argmax(scores))]), r
            expect = float(np.floor(np.max(scores) * 1e6) / 1e6)
            assert abs(r["centroid_cos"] - expect) < 2e-6, (r, expect)

    def test_embedding_lsh_matches_exact_in_near_dup_regime(self, spark, embeddings):
        # noisy twins at cosine ≳ 0.99: the LSH-bucketed miner must find
        # exactly what the blocked exact miner finds (precision 1.0 by
        # construction, recall 1.0 at near-dup angles)
        noisy = embeddings.limit(10).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                F.col("embedding"), lambda x: x * F.lit(1.001) + F.lit(0.003)
            ).alias("embedding"),
            "label",
        )
        corpus = embeddings.unionByName(noisy)
        exact = dedup.embedding_near_dup_pairs(corpus, threshold=0.99, method="exact")
        lsh = dedup.embedding_near_dup_pairs(corpus, threshold=0.99, method="lsh")
        exact_set = {(r["id_a"], r["id_b"]) for r in exact.collect()}
        lsh_set = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
        assert len(exact_set) >= 10
        assert lsh_set == exact_set

    def test_incremental_dedup_batch_vs_corpus(self, spark):
        # batch-vs-corpus mining: cross-side near-dups found, corpus-
        # internal duplicates NEVER reported, unique batch docs clean
        corpus = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog today"),
                (2, "the quick brown fox jumps over the lazy dog today"),  # corpus-internal dup of 1
                (3, "completely different corpus content about spark engines"),
            ],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [
                (10, "the quick brown fox jumps over the lazy dog today"),  # dup of corpus 1,2
                (11, "brand new unique document with fresh novel words entirely"),
            ],
            "doc_id long, text string",
        )
        pairs = dedup.minhash_lsh_incremental(batch, corpus, threshold=0.8)
        got = {(r["new_id"], r["corpus_id"]) for r in pairs.collect()}
        assert got == {(10, 1), (10, 2)}
        # matches carry the exact jaccard (precision-1.0 verify)
        assert all(r["jaccard"] == 1.0 for r in pairs.collect())

    def test_incremental_with_precomputed_corpus_state(self, spark, documents):
        # the production shape: corpus state built once, reused for
        # several batches — results identical to deriving it inline
        docs = documents.limit(100)
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        state = dedup.minhash_corpus_state(corpus).cache()
        for mod in (0, 5):
            batch = docs.filter(F.col("doc_id") % 10 == mod)
            direct = dedup.minhash_lsh_incremental(batch, corpus, threshold=0.8)
            reused = dedup.minhash_lsh_incremental(batch, corpus_state=state, threshold=0.8)
            assert {(r["new_id"], r["corpus_id"]) for r in reused.collect()} == {
                (r["new_id"], r["corpus_id"]) for r in direct.collect()
            }
        state.unpersist()
        with pytest.raises(ValueError):
            dedup.minhash_lsh_incremental(docs)  # neither corpus form given

    def test_corpus_state_parameter_mismatch_raises(self, spark, documents):
        # a state built at different (n, num_hashes, bands) silently
        # yields missing/spurious candidates — must raise instead
        docs = documents.limit(20)
        state = dedup.minhash_corpus_state(docs, num_hashes=96, bands=16)
        with pytest.raises(ValueError, match="corpus_state was built"):
            dedup.minhash_lsh_incremental(
                docs, corpus_state=state, num_hashes=48, bands=16
            )
        with pytest.raises(ValueError, match="corpus_state was built"):
            dedup.minhash_lsh_incremental(
                docs, corpus_state=state, num_hashes=96, bands=8
            )

    def test_release_batch_state_bounds_executor_storage(self, spark, documents):
        # the ingest-loop hygiene contract: corpus state built once, 10
        # batches run + released — persisted-RDD count must not grow
        # with the batch count
        docs = documents.limit(60)
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        state = dedup.minhash_corpus_state(corpus).cache()
        jsc = spark.sparkContext._jsc.sc()
        counts = []
        for i in range(10):
            batch = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
                "doc_id", F.col("doc_id") + i * 1000
            )
            result = dedup.minhash_lsh_incremental(
                batch, corpus_state=state, threshold=0.8
            )
            result.count()  # consume the batch
            dedup.release_batch_state(result, blocking=True)
            counts.append(jsc.getPersistentRDDs().size())
        state.unpersist()
        # bounded: the later batches hold no more storage than the first
        assert max(counts) <= counts[0], counts

    def test_release_batch_state_covers_the_pair_miners(self, spark, documents):
        # the deferred r10 handle (VERDICT r10 #2): the shared
        # _shingle_overlap core materializes the shingle table; a loop
        # mining pair tables must be able to release it per batch —
        # every RDD the call persisted is gone after each release
        # instead of one shingle table piling up per call. Tracked by
        # RDD id, not by count: the context cleaner may free earlier
        # tests' unreleased local checkpoints at any moment
        def persisted():
            return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

        docs = documents.limit(40)
        for miner in (dedup.ngram_jaccard_pairs, dedup.containment_pairs):
            before = persisted()
            result = miner(docs, threshold=0.8, max_doc_frequency=1000)
            result.count()  # consume (populates the shingle table)
            made = persisted() - before
            assert made
            dedup.release_batch_state(result, blocking=True)
            assert not made & persisted(), "shingle table leaked past release_batch_state"

    def test_release_batch_state_reports_lost_handles(self, spark, documents):
        # ADVICE r11: a release call on a derived frame (handle dropped
        # by the transformation) was a SILENT no-op leak — it must now
        # return 0 and warn, the direct result must report its cache
        # count, and carry_batch_caches must restore the contract
        import warnings

        docs = documents.limit(40)
        result = dedup.ngram_jaccard_pairs(docs, threshold=0.8)
        derived = result.orderBy("id_a")  # drops the python attribute
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            assert dedup.release_batch_state(derived) == 0
        assert any(
            issubclass(w.category, RuntimeWarning)
            and "carry_batch_caches" in str(w.message)
            for w in caught
        )
        carried = dedup.carry_batch_caches(result.orderBy("id_a"), result)
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            assert dedup.release_batch_state(carried, blocking=True) >= 1
        assert caught == []

    def test_incremental_forwards_num_hashes_to_batch_signatures(self, spark, documents):
        # regression: the batch side once built 64-slot default
        # signatures while banding assumed the caller's num_hashes —
        # at num_hashes=96 the upper bands read past the array (NULL
        # buckets that never match the corpus). Identical text on both
        # sides must collide in EVERY band at any signature width.
        corpus = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string",
        )
        batch = corpus.withColumn("doc_id", F.col("doc_id") + 100)
        c_bands = dedup.minhash_corpus_state(corpus, num_hashes=96, bands=16).band_rows
        b_bands = dedup.minhash_corpus_state(batch, num_hashes=96, bands=16).band_rows
        matched = c_bands.toDF("a", "band", "bucket").join(
            b_bands.toDF("b", "band", "bucket"), ["band", "bucket"]
        )
        assert matched.count() == 16  # all bands collide, none NULL-dead
        pairs = dedup.minhash_lsh_incremental(
            batch, corpus, num_hashes=96, bands=16, threshold=0.9
        )
        assert [(r["new_id"], r["corpus_id"]) for r in pairs.collect()] == [(101, 1)]

    def test_incremental_matches_bipartite_exact_miner(self, spark, documents):
        # LSH+verify must equal the exact n-gram miner restricted to the
        # bipartite split at a threshold where banding recall ~ 1
        docs = documents.limit(120)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        inc = dedup.minhash_lsh_incremental(batch, corpus, threshold=0.8)
        exact = (
            dedup.ngram_jaccard_pairs(docs, threshold=0.8, max_doc_frequency=None)
        )
        cross = set()
        for r in exact.collect():
            a, b = r["id_a"], r["id_b"]
            if (a % 5 == 0) != (b % 5 == 0):
                new_id, corpus_id = (a, b) if a % 5 == 0 else (b, a)
                cross.add((new_id, corpus_id))
        assert {(r["new_id"], r["corpus_id"]) for r in inc.collect()} == cross

    def test_snapshot_diff_change_classes_and_null_tagging(self, spark):
        # all three change classes; unchanged rows excluded; NULL is a
        # first-class content value distinct from any string; the unit
        # separator prevents ("ab","c") == ("a","bc") concat aliasing
        old = spark.createDataFrame(
            [
                (1, "same", "x"),
                (2, "was", "x"),
                (3, "gone", "x"),
                (5, None, "x"),
                (6, "ab", "c"),
            ],
            "doc_id long, text string, extra string",
        )
        new = spark.createDataFrame(
            [
                (1, "same", "x"),
                (2, "now", "x"),
                (4, "fresh", "x"),
                (5, "notnull", "x"),
                (6, "a", "bc"),
            ],
            "doc_id long, text string, extra string",
        )
        got = {
            r["doc_id"]: r["change"]
            for r in dedup.snapshot_diff(
                old, new, content_cols=("text", "extra")
            ).collect()
        }
        assert got == {2: "changed", 3: "removed", 4: "added",
                       5: "changed", 6: "changed"}
        # both-NULL is unchanged, not spuriously flagged
        o2 = spark.createDataFrame([(9, None)], "doc_id long, text string")
        assert dedup.snapshot_diff(o2, o2, content_cols=("text",)).count() == 0

    def test_bloom_gate_exact_verdicts_and_no_false_negatives(
        self, spark, documents
    ):
        # the space-bounded ingest front door: corpus keys summarized
        # into a Bloom filter, batch gated by prefilter + exact confirm.
        # No false negative is possible (build and probe share the same
        # JVM hash arithmetic); the confirm join makes verdicts exact.
        corpus = documents.filter(F.col("doc_id") % 5 != 0)
        batch = documents.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
        bloom = dedup.build_bloom_ingest_filter(corpus, on=["text"], fpp=0.01)
        probed = dedup.bloom_might_contain(batch, bloom, ["text"])
        # every true dup must be flagged — zero false negatives
        assert probed.filter("NOT maybe_dup AND doc_id % 5 != 0").count() == 0
        # fpp is honored with slack: 50 novel docs at 1% ⇒ P[>5 FPs] ~ 0
        assert probed.filter("maybe_dup AND doc_id % 5 = 0").count() <= 5
        # the probe is a shuffle-free projection
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # the exact gate: verdict == key-exists-in-corpus, everywhere
        out = dedup.bloom_ingest_gate(batch, bloom, corpus_df=corpus, on=["text"])
        assert out.filter("is_dup != (doc_id % 5 != 0)").count() == 0
        # approximate mode (no corpus): the raw Bloom answer, renamed
        approx = dedup.bloom_ingest_gate(batch, bloom, on=["text"])
        assert approx.filter("NOT is_dup AND doc_id % 5 != 0").count() == 0

    def test_bloom_probe_routes_agree_and_artifact_roundtrips(
        self, spark, documents, tmp_path
    ):
        # the >8 MB-bitset pandas/broadcast route must be value-identical
        # to the plan-literal JVM route (same h1/h2, same position
        # arithmetic); the JSON artifact round-trips exactly
        corpus = documents.filter(F.col("doc_id") % 5 != 0)
        batch = documents.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
        bloom = dedup.build_bloom_ingest_filter(corpus, on=["text"], fpp=0.05)
        lit_route = dedup.bloom_might_contain(batch, bloom, ["text"])
        bc_route = dedup.bloom_might_contain(
            batch, bloom, ["text"], max_literal_words=1
        ).withColumnRenamed("maybe_dup", "bc")
        joined = lit_route.join(bc_route, ["doc_id", "text"])
        assert joined.filter("maybe_dup != bc").count() == 0
        path = str(tmp_path / "bloom.json")
        dedup.save_bloom_ingest_filter(bloom, path)
        assert dedup.load_bloom_ingest_filter(path) == bloom
        # a foreign JSON artifact is rejected, not misparsed
        import json

        wrong = str(tmp_path / "wrong.json")
        with open(wrong, "w") as f:
            json.dump({"format": "pq_codebooks"}, f)
        with pytest.raises(ValueError, match="not a bloom_ingest_filter"):
            dedup.load_bloom_ingest_filter(wrong)

    def test_bloom_no_false_negatives_randomized_sweep(self, spark):
        # the structural guarantee, exercised over 2000 pseudo-random
        # keys (seeded md5-derived strings, multiple lengths/charsets):
        # EVERY corpus member probes positive, at every fpp tried
        rows = spark.range(2000).select(
            F.concat(
                F.lit("k:"), F.md5(F.col("id").cast("string")),
                F.lit("/"), F.repeat(F.lit("x"), (F.col("id") % 50).cast("int")),
            ).alias("key")
        )
        for fpp in (0.3, 0.01):
            bloom = dedup.build_bloom_ingest_filter(rows, on=["key"], fpp=fpp)
            missed = (
                dedup.bloom_might_contain(rows, bloom, ["key"])
                .filter("NOT maybe_dup").count()
            )
            assert missed == 0, f"false negatives at fpp={fpp}"

    def test_bloom_gate_tristate_join_strategies_agree(self, spark, documents):
        # True / None / False broadcast_positives are pure physical
        # strategy — verdicts identical across all three
        corpus = documents.filter(F.col("doc_id") % 5 != 0)
        batch = documents.filter(F.col("doc_id") % 2 == 0).select("doc_id", "text")
        bloom = dedup.build_bloom_ingest_filter(corpus, on=["text"], fpp=0.05)
        outs = [
            {
                r["doc_id"]: r["is_dup"]
                for r in dedup.bloom_ingest_gate(
                    batch, bloom, corpus_df=corpus, on=["text"],
                    broadcast_positives=mode,
                ).collect()
            }
            for mode in (True, None, False)
        ]
        assert outs[0] == outs[1] == outs[2]

    def test_bloom_empty_corpus_all_novel(self, spark, documents):
        # day-zero ingest: an empty corpus is legal — all-zero bitset,
        # every probe provably negative
        empty = documents.filter("doc_id < 0")
        bloom = dedup.build_bloom_ingest_filter(empty, on=["text"])
        batch = documents.limit(20).select("doc_id", "text")
        assert (
            dedup.bloom_might_contain(batch, bloom, ["text"])
            .filter("maybe_dup").count() == 0
        )
        out = dedup.bloom_ingest_gate(batch, bloom, corpus_df=empty, on=["text"])
        assert out.filter("is_dup").count() == 0

    def test_minhash_corpus_state_roundtrips_through_parquet(
        self, spark, documents, tmp_path
    ):
        # build → persist → reload → incremental results identical to
        # the fresh state; the meta sidecar keeps parameter-mismatch
        # rejection alive across the round-trip
        docs = documents.limit(120)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        state = dedup.minhash_corpus_state(corpus)
        path = str(tmp_path / "mh_state")
        dedup.save_minhash_corpus_state(state, path)
        loaded = dedup.load_minhash_corpus_state(spark, path)
        assert (loaded.n, loaded.num_hashes, loaded.bands) == (
            state.n, state.num_hashes, state.bands,
        )
        fresh = dedup.minhash_lsh_incremental(
            batch, corpus_state=state, threshold=0.8
        )
        replay = dedup.minhash_lsh_incremental(
            batch, corpus_state=loaded, threshold=0.8
        )
        assert sorted(map(tuple, fresh.collect())) == sorted(
            map(tuple, replay.collect())
        )
        # mismatched batch params still rejected after the round-trip
        with pytest.raises(ValueError):
            dedup.minhash_lsh_incremental(
                batch, corpus_state=loaded, num_hashes=32, threshold=0.8
            )
        with pytest.raises(ValueError, match="not a minhash"):
            import json

            bad = str(tmp_path / "bad_state")
            import os

            os.makedirs(bad, exist_ok=True)
            with open(f"{bad}/_minhash_meta.json", "w") as f:
                json.dump({"format": "bloom_ingest_filter"}, f)
            dedup.load_minhash_corpus_state(spark, bad)

    def test_lsh_params_bound_miss_at_threshold(self):
        # auto-derived (planes, tables) must bound P[miss] <= 5% for a
        # pair sitting exactly at the routing threshold — the regime the
        # old fixed (8, 6) defaults got badly wrong (~54% miss at 0.70)
        import math

        for thr in (0.70, 0.80, 0.90, 0.95, 0.99, 0.999):
            planes, tables = dedup._lsh_params_for_threshold(thr, None, None)
            p = 1.0 - math.acos(thr) / math.pi
            miss = (1.0 - p**planes) ** tables
            assert miss <= 0.05, (thr, planes, tables, miss)
        # explicit values are never overridden
        assert dedup._lsh_params_for_threshold(0.7, 4, 3) == (4, 3)
        assert dedup._lsh_params_for_threshold(0.7, None, 7)[1] == 7

    def test_embedding_lsh_recall_at_borderline_cosine(self, spark, embeddings):
        # pairs barely above the threshold (cos ~0.75 vs threshold 0.7):
        # derived multi-table params must recover nearly all of what the
        # exact miner finds. Deterministic: fixed seed, fixed hyperplanes.
        import math

        import numpy as np

        rng = np.random.default_rng(7)
        base = rng.normal(size=(40, 16))
        rows = []
        for i, v in enumerate(base):
            v = v / np.linalg.norm(v)
            # partner at a controlled angle: cos ~= 0.75
            noise = rng.normal(size=16)
            noise -= noise.dot(v) * v
            noise /= np.linalg.norm(noise)
            w = 0.75 * v + math.sqrt(1 - 0.75**2) * noise
            rows.append((i, [float(x) for x in v]))
            rows.append((i + 1000, [float(x) for x in w]))
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        exact = dedup.embedding_near_dup_pairs(corpus, threshold=0.7, method="exact")
        lsh = dedup.embedding_near_dup_pairs(corpus, threshold=0.7, method="lsh")
        exact_set = {(r["id_a"], r["id_b"]) for r in exact.collect()}
        lsh_set = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
        assert len(exact_set) >= 40  # every planted pair is above threshold
        assert lsh_set <= exact_set  # precision 1.0
        assert len(lsh_set) >= 0.9 * len(exact_set), (len(lsh_set), len(exact_set))

    def test_embedding_incremental_bipartite(self, spark, embeddings):
        # exact engine: equals brute-force new×corpus pairs; corpus-
        # internal near-dups never reported
        import numpy as np

        rows = embeddings.limit(60).select("vec_id", "embedding").collect()
        ids = [r["vec_id"] for r in rows]
        mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        expected = set()
        for i in range(len(ids)):
            for j in range(len(ids)):
                if ids[i] % 5 == 0 and ids[j] % 5 != 0:
                    cos = float(mat[i] @ mat[j]) / (norms[i] * norms[j])
                    if np.floor(cos * 1e6) / 1e6 >= 0.4:
                        expected.add((ids[i], ids[j]))
        emb = embeddings.limit(60)
        got = dedup.embedding_near_dup_incremental(
            emb.filter(F.col("vec_id") % 5 == 0),
            emb.filter(F.col("vec_id") % 5 != 0),
            threshold=0.4,
            method="exact",
            num_blocks=4,
        )
        assert {(r["new_id"], r["corpus_id"]) for r in got.collect()} == expected

    def test_embedding_incremental_lsh_matches_exact(self, spark, embeddings):
        # near-dup regime: LSH route must recover the exact bipartite
        # pair set (planted noisy twins at cos ≳ 0.99)
        noisy = embeddings.limit(10).select(
            (F.col("vec_id") * 5 + 100000).alias("vec_id"),  # batch ids ≡ 0 mod 5
            F.transform(
                F.col("embedding"), lambda x: x * F.lit(1.001) + F.lit(0.003)
            ).alias("embedding"),
        )
        corpus = embeddings.withColumn(
            "vec_id", F.col("vec_id") * 5 + 1  # corpus ids ≢ 0 mod 5
        ).select("vec_id", "embedding")
        exact = dedup.embedding_near_dup_incremental(noisy, corpus, threshold=0.99, method="exact")
        lsh = dedup.embedding_near_dup_incremental(noisy, corpus, threshold=0.99, method="lsh")
        exact_set = {(r["new_id"], r["corpus_id"]) for r in exact.collect()}
        lsh_set = {(r["new_id"], r["corpus_id"]) for r in lsh.collect()}
        assert len(exact_set) >= 10
        assert lsh_set == exact_set

    def test_embedding_blocked_exact_is_complete(self, spark, embeddings):
        # block equi-join must enumerate each pair exactly once —
        # same output as an independently computed brute-force matrix
        import itertools

        import numpy as np

        rows = embeddings.limit(40).select("vec_id", "embedding").collect()
        ids = [r["vec_id"] for r in rows]
        mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        expected = set()
        for i, j in itertools.combinations(range(len(ids)), 2):
            cos = float(mat[i] @ mat[j]) / (norms[i] * norms[j])
            if np.floor(cos * 1e6) / 1e6 >= 0.3:
                a, b = sorted((ids[i], ids[j]))
                expected.add((a, b))
        got = dedup.embedding_near_dup_pairs(
            embeddings.limit(40), threshold=0.3, method="exact", num_blocks=4
        )
        assert {(r["id_a"], r["id_b"]) for r in got.collect()} == expected

    def test_embedding_gemm_matches_exact_pairs(self, spark, embeddings):
        # blocked-GEMM engine: same pair set as the JVM exact miner
        # (scores reassociate sums, so compare ids; the test corpus has
        # >1e-3 margin around the threshold)
        exact = dedup.embedding_near_dup_pairs(embeddings, threshold=0.4, method="exact")
        gemm = dedup.embedding_near_dup_pairs(
            embeddings, threshold=0.4, method="gemm", num_blocks=4
        )
        exact_set = {(r["id_a"], r["id_b"]) for r in exact.collect()}
        gemm_set = {(r["id_a"], r["id_b"]) for r in gemm.collect()}
        assert len(exact_set) > 0
        assert gemm_set == exact_set

    def test_ngram_viral_shingle_fanout_is_capped(self, spark):
        # 60 docs sharing one boilerplate sentence but otherwise unique:
        # uncapped, the shared shingles alone create 60*59/2 candidate
        # pairs; with the df cap they create none
        docs = spark.createDataFrame(
            [(i, f"common boilerplate header sentence unique{i} tail{i} word{i}") for i in range(60)],
            "doc_id long, text string",
        )
        capped = dedup.ngram_jaccard_pairs(docs, threshold=0.01, max_doc_frequency=50)
        assert capped.count() == 0
        uncapped = dedup.ngram_jaccard_pairs(docs, threshold=0.01, max_doc_frequency=None)
        assert uncapped.count() == 60 * 59 // 2

    def test_cluster_pairs_bounded_cache_on_long_chain(self, spark):
        # a 12-node path graph needs several label-propagation rounds;
        # superseded per-iteration caches must be released
        before = spark.sparkContext._jsc.getPersistentRDDs().size()
        chain = [(i, i + 1, 1.0) for i in range(12)]
        pairs = spark.createDataFrame(chain, "id_a long, id_b long, jaccard double")
        members = spark.createDataFrame([(i,) for i in range(13)], "doc_id long")
        labels = {r["doc_id"]: r["cluster_id"] for r in dedup.cluster_pairs(pairs, members).collect()}
        assert set(labels.values()) == {0}
        after = spark.sparkContext._jsc.getPersistentRDDs().size()
        # only the surviving label table may remain cached — not one
        # table per iteration (the 12-iteration chain would leak ~12)
        assert after - before <= 2, f"cache leak: {after - before} new persistent RDDs"

    def test_cluster_pairs_reliable_checkpoint(self, spark, tmp_path):
        # the fault-tolerant tier for cluster runs: generations snapshot
        # to the checkpoint dir (survive executor loss), same labels out
        pairs = spark.createDataFrame(
            [(i, i + 1, 1.0) for i in range(8)], "id_a long, id_b long, jaccard double"
        )
        members = spark.createDataFrame([(i,) for i in range(9)], "doc_id long")
        with pytest.raises(ValueError, match="checkpoint dir"):
            dedup.cluster_pairs(pairs, members, checkpoint="reliable")
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        labels = {
            r["doc_id"]: r["cluster_id"]
            for r in dedup.cluster_pairs(pairs, members, checkpoint="reliable").collect()
        }
        assert set(labels.values()) == {0}
        with pytest.raises(ValueError, match="'local' or 'reliable'"):
            dedup.cluster_pairs(pairs, members, checkpoint="bogus")

    def test_gemm_supports_string_ids(self, spark, embeddings):
        # the GEMM engine must honor the input id type (it once
        # hardcoded int64 and crashed on string ids)
        named = embeddings.limit(30).select(
            F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding"
        )
        exact = dedup.embedding_near_dup_pairs(named, threshold=0.4, method="exact")
        gemm = dedup.embedding_near_dup_pairs(named, threshold=0.4, method="gemm", num_blocks=4)
        exact_set = {(r["id_a"], r["id_b"]) for r in exact.collect()}
        gemm_set = {(r["id_a"], r["id_b"]) for r in gemm.collect()}
        assert gemm_set == exact_set
        assert all(isinstance(a, str) for a, _ in gemm_set) or gemm_set == set()

    def test_ngram_default_cap_warns_explicit_does_not(self, spark, documents):
        import warnings as w

        docs = documents.limit(5)
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            dedup.ngram_jaccard_pairs(docs)
            assert any("document-frequency cap" in str(c.message) for c in caught)
        with w.catch_warnings(record=True) as caught:
            w.simplefilter("always")
            dedup.ngram_jaccard_pairs(docs, max_doc_frequency=1000)
            dedup.ngram_jaccard_pairs(docs, max_doc_frequency=None)
            assert not caught


class TestSimilarity:
    def test_metric_topk_matches_numpy_brute_force(self, spark, embeddings):
        import math

        import numpy as np

        vecs = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in embeddings.filter("vec_id < 60").collect()
        }
        q_ids = [i for i in sorted(vecs) if i < 3]
        sub = embeddings.filter("vec_id < 60")
        queries = sub.filter("vec_id < 3")
        for metric, sgn in [("l2", 1), ("ip", -1)]:
            got = similarity.metric_topk(sub, queries, k=4, metric=metric).collect()
            by_q = {}
            for r in got:
                by_q.setdefault(r["query_id"], []).append(
                    (r["rank"], r["neighbor_id"], r["score"])
                )
            for qid in q_ids:
                want = []
                for cid, cv in vecs.items():
                    if cid == qid:
                        continue
                    qv = vecs[qid]
                    # python's sum is a sequential left fold — the SAME
                    # IEEE chain as Spark's aggregate (numpy's pairwise
                    # summation can differ in the last ulp)
                    raw = 0.0
                    for x, y in zip(qv.tolist(), cv.tolist()):
                        raw += (x - y) * (x - y) if metric == "l2" else x * y
                    want.append((math.floor(raw * 1e6) / 1e6, cid))
                want.sort(key=lambda t: (sgn * t[0], t[1]))
                got_q = sorted(by_q[qid])
                assert [(n, s) for _, n, s in got_q] == [
                    (cid, s) for s, cid in want[:4]
                ], (metric, qid)
        import pytest

        with pytest.raises(ValueError, match="metric"):
            similarity.metric_topk(sub, queries, metric="cosine")
        # a dimension-mismatched corpus vector scores NULL (zip_with
        # null-padding) — it must never appear, least of all at rank 1
        # of every l2 result (ascending sort puts nulls first)
        ragged = sub.select("vec_id", "embedding").union(
            spark.createDataFrame(
                [(9999, [0.5])], "vec_id long, embedding array<double>"
            )
        )
        for metric in ("l2", "ip"):
            got = similarity.metric_topk(ragged, queries, k=4, metric=metric)
            assert not [r for r in got.collect() if r["neighbor_id"] == 9999]

    def test_assignment_is_a_zero_exchange_projection(self, spark, embeddings):
        # the nearest-centroid assignment (the IVF/IVFPQ/SemDeDup
        # building block) must plan as a pure Project over the scan:
        # no Exchange of ANY kind between the source and the cell id —
        # the round-4 crossJoin + per-row-window shape (an n×k shuffle
        # on a corpus-cardinality key) must never come back
        from pyspark.sql import Window

        seeds = (
            embeddings.orderBy("vec_id").limit(16)
            .withColumn("cid", F.row_number().over(Window.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        out = similarity.assign_cells(embeddings, seeds, metric="l2")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
        # and the assignment itself is correct: the seed vectors land
        # in their own cells at distance 0
        got = {r["vec_id"]: (r["cid"], r["key"]) for r in out.collect() if r["vec_id"] < 16}
        for vid, (cid, key) in got.items():
            assert cid == vid and key == 0.0

    def test_assign_cells_routes_two_level_past_max_cells(self, spark):
        # a pre-trained centroid table past max_cells must NOT raise
        # (the old hard-fail): assignment routes through the two-level
        # coarse quantizer — broadcast-hash join on the super-cell key,
        # no nested loop — and matches a numpy replica of the
        # documented two-level semantics exactly
        import numpy as np

        from aws_data_wrangler_spark.plans.audit import plan_summary

        rng = np.random.RandomState(11)
        k, dim, n_pts = 20, 4, 12
        cvecs = rng.standard_normal((k, dim))
        cents = spark.createDataFrame(
            [(int(i), [float(x) for x in cvecs[i]]) for i in range(k)],
            "cid int, cvec array<double>",
        )
        pvecs = rng.standard_normal((n_pts, dim))
        pts = spark.createDataFrame(
            [(int(i), [float(x) for x in pvecs[i]]) for i in range(n_pts)],
            "vec_id int, embedding array<double>",
        )
        out = similarity.assign_cells(pts, cents, metric="l2", max_cells=8)
        s = plan_summary(out)
        assert s["cartesian_products"] == 0, s["plan"]
        assert s["broadcast_nested_loop_joins"] == 0, s["plan"]
        assert s["broadcast_hash_joins"] >= 1, s["plan"]
        rows = {int(r["vec_id"]): (int(r["cid"]), float(r["key"])) for r in out.collect()}
        assert len(rows) == n_pts  # complete coverage: no silent drops
        # numpy replica of the two-level l2 semantics
        n_super = max(1, min(1024, int(k ** 0.5) + 1))
        sup = cvecs[:n_super]
        l2 = lambda a, b: ((a[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)
        child_super = np.argmin(l2(cvecs, sup), axis=1)
        pt_super = np.argmin(l2(pvecs, sup), axis=1)
        for i in range(n_pts):
            members = np.where(child_super == pt_super[i])[0]
            dists = l2(pvecs[i : i + 1], cvecs[members])[0]
            best = members[int(np.argmin(dists))]
            got_cid, got_key = rows[i]
            assert got_cid == int(best), (i, got_cid, int(best))
            assert abs(got_key - float(np.min(dists))) < 1e-9

    def test_assign_cells_two_level_keeps_null_vector_rows(self, spark):
        # a degenerate point (null vector) must keep its row with null
        # cid/key — the flat path's behavior — not silently disappear
        # through the super-cell join (ADVICE r5)
        cents = spark.createDataFrame(
            [(i, [float(i), 0.0]) for i in range(6)], "cid int, cvec array<double>"
        )
        pts = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, None)], "vec_id int, embedding array<double>"
        )
        out = similarity.assign_cells(pts, cents, metric="l2", max_cells=3)
        rows = {r["vec_id"]: r for r in out.collect()}
        assert set(rows) == {0, 1}
        assert rows[0]["cid"] == 1
        assert rows[1]["cid"] is None and rows[1]["key"] is None

    def test_train_pq_codebooks_empty_corpus_raises(self, spark, embeddings):
        # an empty corpus once inferred dim=0, passed the dim%m check,
        # and returned empty codebooks that crashed pq_encode later —
        # it must fail early with a clear message (ADVICE r5)
        import pytest

        with pytest.raises(ValueError, match="empty corpus"):
            similarity.train_pq_codebooks(embeddings.filter("vec_id < 0"))

    def test_partitioned_ivf_search_prunes_and_matches_ivf_topk(
        self, spark, embeddings, tmp_path
    ):
        # the 100 TB index story: build_partitioned_ivf writes a
        # partitionBy(cid) dataset; the search-side scan must carry
        # non-empty PartitionFilters (cid IN probed) — reading
        # ~nprobe/num_centroids of the corpus, plan-audited — and the
        # results must be value-identical to the unpartitioned ivf_topk
        # with the same centroids (partitioning changes I/O, not values)
        from pyspark.sql import Window

        from aws_data_wrangler_spark.plans.audit import plan_summary

        seeds = (
            embeddings.orderBy("vec_id").limit(16)
            .withColumn("cid", F.row_number().over(Window.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivf_index")
        similarity.build_partitioned_ivf(embeddings, seeds, index, metric="cosine")
        queries = embeddings.filter("vec_id < 5")
        out = similarity.ivf_partitioned_topk(
            spark, index, queries, seeds, k=5, nprobe=4, metric="cosine"
        )
        s = plan_summary(out)
        assert s["partition_filters"], s["plan"]  # non-empty PartitionFilters
        assert "cid" in s["plan"]
        ref = similarity.ivf_topk(
            embeddings, queries, k=5, nprobe=4, centroids=seeds, metric="cosine"
        )
        got = sorted(map(tuple, out.collect()))
        want = sorted(map(tuple, ref.collect()))
        assert got == want
        # and pruning is real: every seed is its own cell's member, so
        # all 16 cells exist on disk, while the scan's pruning filter
        # admits at most queries×nprobe of them
        import os
        import re

        n_cells_on_disk = sum(1 for d in os.listdir(index) if d.startswith("cid="))
        assert n_cells_on_disk == 16
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", s["plan"])
        assert m and "cid" in m.group(1), s["plan"]
        n_probed = len(re.findall(r"\d+", m.group(1)))
        assert 0 < n_probed <= 5 * 4 < n_cells_on_disk + 5
        # the build clusters rows by cell before the write: file count
        # is bounded at files_per_cell × num_cells, NOT
        # input_partitions × num_cells (the small-file catastrophe)
        import glob

        assert len(glob.glob(f"{index}/cid=*/*.parquet")) <= 16

    def test_partitioned_ivfpq_prunes_columns_and_matches_ivfpq_topk(
        self, spark, embeddings, tmp_path
    ):
        # the 100 TB serving shape: the ADC scan must partition-prune
        # to the probed cells AND column-prune the vector away (scored
        # bytes = the code table), while results stay value-identical
        # to the unpartitioned ivfpq_topk with the same artifacts
        import re

        from pyspark.sql import Window

        seeds = (
            embeddings.orderBy("vec_id").limit(16)
            .withColumn("cid", F.row_number().over(Window.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivfpq_index")
        books = similarity.build_partitioned_ivfpq(
            embeddings, seeds, index, m=8, num_codes=16, iterations=0
        )
        queries = embeddings.filter("vec_id < 5")
        out = similarity.ivfpq_partitioned_topk(
            spark, index, queries, seeds, books, k=5, nprobe=4, rescore_factor=4
        )
        ref = similarity.ivfpq_topk(
            embeddings, queries, k=5, nprobe=4, num_centroids=16, m=8,
            num_codes=16, rescore_factor=4, iterations=0,
        )
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))
        plan = out._jdf.queryExecution().executedPlan().toString()
        # both index scans carry cid pruning (the query-side scan of
        # the unpartitioned embeddings parquet has no partition column,
        # so exactly the two index scans must show cid filters)
        pf = re.findall(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert sum("cid" in f for f in pf) >= 2, plan
        # the ADC-side scan's ReadSchema must NOT include the vector
        # column — codes/vnorm only; the rescore-side scan must
        schemas = re.findall(r"ReadSchema: ([^\n]*)", plan)
        code_scans = [s for s in schemas if "codes" in s]
        vec_scans = [s for s in schemas if "embedding" in s]
        assert code_scans and all("embedding" not in s for s in code_scans), plan
        assert vec_scans and all("codes" not in s for s in vec_scans), plan
        # the index is self-describing: the build wrote a codebooks
        # sidecar, and a fresh search session (codebooks=None) loads it
        # and returns the same results
        sidecar = similarity.ivfpq_partitioned_topk(
            spark, index, queries, seeds, k=5, nprobe=4, rescore_factor=4
        )
        assert sorted(map(tuple, sidecar.collect())) == sorted(map(tuple, ref.collect()))

    def test_partitioned_ivf_files_per_cell_salt(self, spark, embeddings, tmp_path):
        # giant-cell escape: files_per_cell spreads one cell's rows
        # over several shuffle keys; the bound scales with the salt
        import glob

        from pyspark.sql import Window

        seeds = (
            embeddings.orderBy("vec_id").limit(4)
            .withColumn("cid", F.row_number().over(Window.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivf_salted")
        similarity.build_partitioned_ivf(
            embeddings, seeds, index, metric="cosine", files_per_cell=3
        )
        n_files = len(glob.glob(f"{index}/cid=*/*.parquet"))
        assert n_files <= 3 * 4
        # values survive the salt: same rows as an unsalted build
        got = sorted(
            (r["vec_id"], r["cid"])
            for r in spark.read.parquet(index).select("vec_id", "cid").collect()
        )
        index2 = str(tmp_path / "ivf_plain")
        similarity.build_partitioned_ivf(embeddings, seeds, index2, metric="cosine")
        want = sorted(
            (r["vec_id"], r["cid"])
            for r in spark.read.parquet(index2).select("vec_id", "cid").collect()
        )
        assert got == want

    def test_tombstone_delete_suppresses_and_compaction_applies(
        self, spark, embeddings, tmp_path
    ):
        # the index-maintenance leg of the 100 TB lifecycle: a delete
        # is one tiny sidecar append (no data file rewritten), searches
        # anti-join it immediately, and compaction applies it
        # physically so the compacted copy carries no tombstones
        import glob
        import os

        from pyspark.sql import Window as W

        seeds = (
            embeddings.orderBy("vec_id").limit(16)
            .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivf_del")
        similarity.build_partitioned_ivf(embeddings, seeds, index, metric="cosine")
        queries = embeddings.filter("vec_id < 5")

        def search(path):
            return sorted(
                map(
                    tuple,
                    similarity.ivf_partitioned_topk(
                        spark, path, queries, seeds, k=5, nprobe=4, metric="cosine"
                    ).collect(),
                )
            )

        baseline = search(index)
        victims = sorted({r[1] for r in baseline})[:3]  # neighbor ids in results
        data_files_before = sorted(glob.glob(f"{index}/cid=*/*.parquet"))
        similarity.delete_from_partitioned_index(spark, index, victims)
        # the delete wrote ONLY the sidecar — no data file touched
        assert sorted(glob.glob(f"{index}/cid=*/*.parquet")) == data_files_before
        assert os.path.isdir(f"{index}/_tombstones")
        after = search(index)
        assert not {r[1] for r in after} & set(victims)
        # value oracle: identical to searching a corpus that never had
        # the victims (centroids stay the pre-delete trained artifact)
        ref = similarity.ivf_topk(
            embeddings.filter(~F.col("vec_id").isin(victims)),
            queries, k=5, nprobe=4, centroids=seeds, metric="cosine",
        )
        assert after == sorted(map(tuple, ref.collect()))
        # idempotent + DataFrame input accepted
        similarity.delete_from_partitioned_index(
            spark, index, spark.createDataFrame([(victims[0],)], "vec_id bigint")
        )
        assert search(index) == after
        # compaction applies deletes physically: rows gone from the
        # data files, no tombstone sidecar carried over, same results
        compacted = str(tmp_path / "ivf_del_compact")
        similarity.compact_partitioned_index(spark, index, compacted)
        assert not os.path.exists(f"{compacted}/_tombstones")
        surviving = {
            r["vec_id"]
            for r in spark.read.parquet(compacted).select("vec_id").collect()
        }
        assert not surviving & set(victims)
        assert search(compacted) == after

    def test_rebalance_reclusters_ivf_index(self, spark, embeddings, tmp_path):
        # the rebalance rung of the lifecycle: re-cluster a built index
        # around a NEW quantizer without touching the original corpus —
        # tombstones applied physically, metadata carried, results
        # identical to a fresh build over corpus-minus-deleted with the
        # new centroids
        import os

        from pyspark.sql import Window as W

        def seed(n):
            return (
                embeddings.orderBy("vec_id").limit(n)
                .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
                .select("cid", F.col("embedding").alias("cvec"))
            )

        index = str(tmp_path / "ivf_rebal_src")
        similarity.build_partitioned_ivf(
            embeddings, seed(32), index, metric="cosine", metadata_cols=["label"]
        )
        victims = [40, 41, 42]
        similarity.delete_from_partitioned_index(spark, index, victims)
        target = str(tmp_path / "ivf_rebal_dst")
        similarity.rebalance_partitioned_index(
            spark, index, seed(16), target, metric="cosine"
        )
        # deletes applied physically, no sidecar carried, metadata kept
        assert not os.path.exists(f"{target}/_tombstones")
        back = spark.read.parquet(target)
        assert "label" in back.columns
        assert not {r["vec_id"] for r in back.select("vec_id").collect()} & set(victims)
        # value oracle: search == fresh build of corpus-minus-deleted
        # around the same new quantizer
        queries = embeddings.filter("vec_id < 5")
        got = similarity.ivf_partitioned_topk(
            spark, target, queries, seed(16), k=5, nprobe=4, metric="cosine"
        )
        fresh = str(tmp_path / "ivf_rebal_fresh")
        similarity.build_partitioned_ivf(
            embeddings.filter(~F.col("vec_id").isin(victims)),
            seed(16), fresh, metric="cosine",
        )
        ref = similarity.ivf_partitioned_topk(
            spark, fresh, queries, seed(16), k=5, nprobe=4, metric="cosine"
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))

    def test_rebalance_keeps_metadata_named_codes_on_ivf(
        self, spark, embeddings, tmp_path
    ):
        # layout detection follows the SIDECAR: a plain-IVF index may
        # legally carry a metadata column called "codes", and rebalance
        # must carry it — only a genuine PQ index reserves the name
        from pyspark.sql import Window as W

        tagged = embeddings.withColumn("codes", F.col("vec_id") % 3)
        seeds = (
            embeddings.orderBy("vec_id").limit(8)
            .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivf_codesmeta")
        similarity.build_partitioned_ivf(
            tagged, seeds, index, metric="cosine", metadata_cols=["codes"]
        )
        target = str(tmp_path / "ivf_codesmeta_dst")
        similarity.rebalance_partitioned_index(
            spark, index, seeds, target, metric="cosine"
        )
        back = spark.read.parquet(target)
        assert "codes" in back.columns
        assert back.filter(F.col("codes") != F.col("vec_id") % 3).count() == 0

    def test_rebalance_pq_rejects_non_l2_metric(self, spark, embeddings, tmp_path):
        # the PQ layout assigns cells with the l2 key; asking for a
        # different metric must fail loudly, not silently re-cluster l2
        import pytest as _pytest
        from pyspark.sql import Window as W

        seeds = (
            embeddings.orderBy("vec_id").limit(8)
            .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "pq_metric_src")
        similarity.build_partitioned_ivfpq(
            embeddings, seeds, index, m=8, num_codes=16, iterations=0
        )
        with _pytest.raises(ValueError, match="l2"):
            similarity.rebalance_partitioned_index(
                spark, index, seeds, str(tmp_path / "pq_metric_dst"), metric="cosine"
            )

    def test_rebalance_respects_string_ids_and_tombstones(
        self, spark, embeddings, tmp_path
    ):
        # the string-id index (external document keys) must survive the
        # delete → rebalance path: tombstones anti-join on the string
        # key and the rebalanced index carries the ids verbatim
        from pyspark.sql import Window as W

        sdf = embeddings.select(
            F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding"
        )
        seeds = (
            embeddings.orderBy("vec_id").limit(8)
            .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivf_strid")
        similarity.build_partitioned_ivf(sdf, seeds, index, metric="cosine")
        similarity.delete_from_partitioned_index(
            spark, index, ["doc-40", "doc-41"]
        )
        target = str(tmp_path / "ivf_strid_dst")
        similarity.rebalance_partitioned_index(
            spark, index, seeds, target, metric="cosine"
        )
        ids = {r["vec_id"] for r in spark.read.parquet(target).select("vec_id").collect()}
        assert "doc-40" not in ids and "doc-41" not in ids
        assert "doc-0" in ids

    def test_rebalance_reencodes_pq_residuals(self, spark, embeddings, tmp_path):
        # an IVF+PQ index's codes are residuals vs the OLD cell
        # centroid — rebalance must RE-encode them against the new
        # cells (carrying them verbatim, the compaction shortcut, would
        # corrupt every ADC score); the rebalanced index must equal a
        # fresh PQ build with the new quantizer and the same codebooks
        from pyspark.sql import Window as W

        def seed(n):
            return (
                embeddings.orderBy("vec_id").limit(n)
                .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
                .select("cid", F.col("embedding").alias("cvec"))
            )

        index = str(tmp_path / "pq_rebal_src")
        books = similarity.build_partitioned_ivfpq(
            embeddings, seed(16), index, m=8, num_codes=16, iterations=0
        )
        target = str(tmp_path / "pq_rebal_dst")
        similarity.rebalance_partitioned_index(spark, index, seed(8), target)
        queries = embeddings.filter("vec_id < 5")
        # codebooks sidecar re-saved: a fresh session searches with
        # codebooks=None; results == a fresh build around seed(8) with
        # the SAME codebooks
        got = similarity.ivfpq_partitioned_topk(
            spark, target, queries, seed(8), k=5, nprobe=4, rescore_factor=4
        )
        fresh = str(tmp_path / "pq_rebal_fresh")
        similarity.build_partitioned_ivfpq(
            embeddings, seed(8), fresh, m=8, num_codes=16, codebooks=books
        )
        ref = similarity.ivfpq_partitioned_topk(
            spark, fresh, queries, seed(8), books, k=5, nprobe=4, rescore_factor=4
        )
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))

    def test_tombstones_filter_ivfpq_candidates(self, spark, embeddings, tmp_path):
        # the compressed tier honors deletes too: tombstoned ids are
        # filtered from the ADC candidate pass, so they can't reach the
        # exact rescore; results equal ivfpq_topk over corpus-minus-
        # deleted with the same pre-trained artifacts
        from pyspark.sql import Window as W

        seeds = (
            embeddings.orderBy("vec_id").limit(16)
            .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivfpq_del")
        books = similarity.build_partitioned_ivfpq(
            embeddings, seeds, index, m=8, num_codes=16, iterations=0
        )
        queries = embeddings.filter("vec_id < 5")
        base = similarity.ivfpq_partitioned_topk(
            spark, index, queries, seeds, books, k=5, nprobe=4, rescore_factor=4
        )
        victims = sorted({r["neighbor_id"] for r in base.collect()})[:3]
        similarity.delete_from_partitioned_index(spark, index, victims)
        out = similarity.ivfpq_partitioned_topk(
            spark, index, queries, seeds, books, k=5, nprobe=4, rescore_factor=4
        )
        got = sorted(map(tuple, out.collect()))
        assert not {r[1] for r in got} & set(victims)
        ref = similarity.ivfpq_topk(
            embeddings.filter(~F.col("vec_id").isin(victims)),
            queries, k=5, nprobe=4, num_centroids=16, m=8, num_codes=16,
            rescore_factor=4, centroids=seeds, codebooks=books,
        )
        assert got == sorted(map(tuple, ref.collect()))

    def test_filtered_search_pushes_predicate_and_matches_prefiltered(
        self, spark, embeddings, tmp_path
    ):
        # metadata-filtered ANN: the index carries `label` inline
        # (metadata_cols), the predicate lands on the pruned scan as a
        # parquet PushedFilter, and results equal ivf_topk over the
        # PRE-filtered corpus with the same centroids
        import re

        from pyspark.sql import Window as W

        seeds = (
            embeddings.orderBy("vec_id").limit(16)
            .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivf_filtered")
        similarity.build_partitioned_ivf(
            embeddings, seeds, index, metric="cosine", metadata_cols=["label"]
        )
        queries = embeddings.filter("vec_id < 5")
        out = similarity.ivf_partitioned_topk(
            spark, index, queries, seeds, k=5, nprobe=4, metric="cosine",
            where="label < 4",
        )
        ref = similarity.ivf_topk(
            embeddings.filter("label < 4"), queries, k=5, nprobe=4,
            centroids=seeds, metric="cosine",
        )
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))
        plan = out._jdf.queryExecution().executedPlan().toString()
        # both pruning layers on ONE scan: cid partition pruning AND the
        # label predicate reaching parquet
        assert re.search(r"PartitionFilters: \[[^\]]*cid", plan), plan
        assert re.search(r"PushedFilters: \[[^\]]*label", plan), plan
        # metadata survives compaction verbatim (rows carried as-is)
        compacted = str(tmp_path / "ivf_filtered_compact")
        similarity.compact_partitioned_index(spark, index, compacted)
        out2 = similarity.ivf_partitioned_topk(
            spark, compacted, queries, seeds, k=5, nprobe=4, metric="cosine",
            where="label < 4",
        )
        assert sorted(map(tuple, out2.collect())) == sorted(map(tuple, out.collect()))
        # layout-column collision is rejected, not silently shadowed
        with pytest.raises(ValueError, match="collide"):
            similarity.build_partitioned_ivf(
                embeddings, seeds, str(tmp_path / "bad"),
                metric="cosine", metadata_cols=["vnorm"],
            )

    def test_filtered_search_on_ivfpq_tier(self, spark, embeddings, tmp_path):
        # the compressed tier filters at the ADC candidate pass (like
        # tombstones, an excluded candidate can't reach the rescore);
        # results equal ivfpq_topk over the PRE-filtered corpus with
        # the same artifacts
        import re

        from pyspark.sql import Window as W

        seeds = (
            embeddings.orderBy("vec_id").limit(16)
            .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivfpq_filtered")
        books = similarity.build_partitioned_ivfpq(
            embeddings, seeds, index, m=8, num_codes=16, iterations=0,
            metadata_cols=["label"],
        )
        queries = embeddings.filter("vec_id < 5")
        out = similarity.ivfpq_partitioned_topk(
            spark, index, queries, seeds, books, k=5, nprobe=4,
            rescore_factor=4, where="label < 4",
        )
        ref = similarity.ivfpq_topk(
            embeddings.filter("label < 4"), queries, k=5, nprobe=4,
            num_centroids=16, m=8, num_codes=16, rescore_factor=4,
            centroids=seeds, codebooks=books,
        )
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PushedFilters: \[[^\]]*label", plan), plan
        with pytest.raises(ValueError, match="collide"):
            similarity.build_partitioned_ivfpq(
                embeddings, seeds, str(tmp_path / "bad_pq"),
                m=8, num_codes=16, iterations=0, metadata_cols=["codes"],
            )

    def test_empty_delete_is_a_noop(self, spark, embeddings, tmp_path):
        # zero deletions must not crash on schema inference, and must
        # not create a tombstone sidecar (the no-delete fast path stays)
        import os

        from pyspark.sql import Window as W

        seeds = (
            embeddings.orderBy("vec_id").limit(4)
            .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivf_nodelete")
        similarity.build_partitioned_ivf(embeddings, seeds, index, metric="cosine")
        similarity.delete_from_partitioned_index(spark, index, [])
        assert not os.path.exists(f"{index}/_tombstones")
        assert similarity.load_tombstones(spark, index) is None

    def test_tombstones_respect_string_id_type(self, spark, embeddings, tmp_path):
        # string-id indexes are legal; a forced long cast would make
        # the anti-join silently match nothing
        from pyspark.sql import Window as W

        corpus = embeddings.select(
            F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"), "embedding"
        )
        seeds = (
            embeddings.orderBy("vec_id").limit(8)
            .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivf_strid")
        similarity.build_partitioned_ivf(corpus, seeds, index, metric="cosine")
        queries = corpus.filter("vec_id IN ('doc-0','doc-1')")
        base = similarity.ivf_partitioned_topk(
            spark, index, queries, seeds, k=5, nprobe=3, metric="cosine"
        )
        victims = sorted({r["neighbor_id"] for r in base.collect()})[:2]
        assert all(isinstance(v, str) for v in victims)
        similarity.delete_from_partitioned_index(spark, index, victims)
        after = similarity.ivf_partitioned_topk(
            spark, index, queries, seeds, k=5, nprobe=3, metric="cosine"
        )
        assert not {r["neighbor_id"] for r in after.collect()} & set(victims)

    def test_tombstones_compose_with_metadata_filter(
        self, spark, embeddings, tmp_path
    ):
        # delete + metadata filter on one index: both are candidate
        # filters, so results equal ivf_topk over the corpus minus
        # deleted minus non-matching
        from pyspark.sql import Window as W

        seeds = (
            embeddings.orderBy("vec_id").limit(16)
            .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivf_del_filt")
        similarity.build_partitioned_ivf(
            embeddings, seeds, index, metric="cosine", metadata_cols=["label"]
        )
        similarity.delete_from_partitioned_index(spark, index, range(20, 40))
        queries = embeddings.filter("vec_id < 5")
        out = similarity.ivf_partitioned_topk(
            spark, index, queries, seeds, k=5, nprobe=4, metric="cosine",
            where="label < 5",
        )
        ref = similarity.ivf_topk(
            embeddings.filter(
                (~F.col("vec_id").between(20, 39)) & (F.col("label") < 5)
            ),
            queries, k=5, nprobe=4, centroids=seeds, metric="cosine",
        )
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))

    def test_pca_ragged_vectors_raise(self, spark):
        ragged = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(ValueError, match="ragged"):
            similarity.train_pca(ragged, out_dim=1)

    def test_no_tombstones_is_a_plan_noop(self, spark, embeddings, tmp_path):
        # the hot path: an index with no deletes must not pay an
        # anti-join — load_tombstones is a driver-side existence probe
        from pyspark.sql import Window as W

        seeds = (
            embeddings.orderBy("vec_id").limit(8)
            .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivf_clean")
        similarity.build_partitioned_ivf(embeddings, seeds, index, metric="cosine")
        assert similarity.load_tombstones(spark, index) is None
        out = similarity.ivf_partitioned_topk(
            spark, index, embeddings.filter("vec_id < 3"), seeds,
            k=5, nprobe=4, metric="cosine",
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "LeftAnti" not in plan, plan

    def test_pca_train_project_matches_numpy(self, spark, embeddings):
        # the FAISS PCAMatrix contract: orthonormal components sorted
        # by explained variance desc, projection = components·(x−mean)
        # as a zero-shuffle literal matmul — verified against numpy
        import numpy as np

        X = np.array(
            [r["embedding"] for r in embeddings.orderBy("vec_id").collect()],
            dtype=np.float64,
        )
        pca = similarity.train_pca(embeddings, out_dim=8)
        C = np.array(pca["components"])
        mu = np.array(pca["mean"])
        assert np.allclose(C @ C.T, np.eye(8), atol=1e-9)
        assert np.allclose(mu, X.mean(axis=0), atol=1e-9)
        ev = pca["explained_variance"]
        assert ev == sorted(ev, reverse=True) and ev[0] > 0
        out = similarity.pca_project(embeddings, pca)
        P = np.array(
            [r["pca"] for r in out.select("vec_id", "pca").orderBy("vec_id").collect()]
        )
        assert np.allclose(P, (X - mu) @ C.T, atol=1e-8)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # per-component projected variance == the eigenvalue it claims
        assert np.allclose(P.var(axis=0), ev, rtol=1e-9)

    def test_pca_feeds_partitioned_quantizer_end_to_end(
        self, spark, embeddings, tmp_path
    ):
        # the preprocessing weld: project to 16 dims, build the
        # partitioned IVF index ON the projected column, search in
        # projected space — results match brute-force cosine over the
        # projected vectors restricted to the probed cells (i.e. the
        # plain ivf_topk contract, just in PCA space)
        from pyspark.sql import Window as W

        pca = similarity.train_pca(embeddings, out_dim=16)
        proj = similarity.pca_project(embeddings, pca).select("vec_id", "pca")
        seeds = (
            proj.orderBy("vec_id").limit(8)
            .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
            .select("cid", F.col("pca").alias("cvec"))
        )
        index = str(tmp_path / "ivf_pca")
        similarity.build_partitioned_ivf(
            proj, seeds, index, vec_col="pca", metric="cosine"
        )
        queries = proj.filter("vec_id < 5")
        out = similarity.ivf_partitioned_topk(
            spark, index, queries, seeds, k=5, nprobe=3,
            vec_col="pca", metric="cosine",
        )
        ref = similarity.ivf_topk(
            proj, queries, k=5, nprobe=3, centroids=seeds,
            vec_col="pca", metric="cosine",
        )
        assert sorted(map(tuple, out.collect())) == sorted(map(tuple, ref.collect()))

    def test_pca_artifact_roundtrip(self, spark, embeddings, tmp_path):
        # the save_pq_codebooks contract for PCA: save → load →
        # bit-identical projection (doubles round-trip via repr), and a
        # non-pca JSON is rejected loudly
        import pytest as _pytest

        pca = similarity.train_pca(embeddings, out_dim=4)
        path = str(tmp_path / "pca.json")
        similarity.save_pca(pca, path)
        back = similarity.load_pca(path)
        assert back["mean"] == [float(x) for x in pca["mean"]]
        assert back["components"] == [[float(x) for x in c] for c in pca["components"]]
        a = similarity.pca_project(embeddings, pca).orderBy("vec_id").collect()
        b = similarity.pca_project(embeddings, back).orderBy("vec_id").collect()
        assert [r["pca"] for r in a] == [r["pca"] for r in b]
        bad = str(tmp_path / "notpca.json")
        similarity.save_pq_codebooks([[[1.0]]], bad)
        with _pytest.raises(ValueError, match="not a pca artifact"):
            similarity.load_pca(bad)

    def test_pca_input_validation(self, spark, embeddings):
        with pytest.raises(ValueError, match="empty corpus"):
            similarity.train_pca(embeddings.filter("vec_id < 0"))
        with pytest.raises(ValueError, match="out_dim"):
            similarity.train_pca(embeddings.limit(5), out_dim=1000)

    def test_cell_occupancy_imbalance_semantics(self, spark):
        from aws_data_wrangler_spark.operators import similarity

        cents = spark.createDataFrame(
            [(0, [10.0, 0.0]), (1, [0.0, 10.0]), (2, [-10.0, -10.0])],
            "cid int, cvec array<double>",
        )
        # perfectly balanced: 2 vectors at each of cells 0 and 1, none
        # at 2 → nlist=3 counts the EMPTY cell, imbalance = 3·(4+4)/16
        balanced = spark.createDataFrame(
            [(1, [10.0, 0.1]), (2, [10.0, -0.1]), (3, [0.1, 10.0]), (4, [-0.1, 10.0])],
            "vec_id long, embedding array<double>",
        )
        rows = similarity.cell_occupancy(balanced, cents).collect()
        assert {r["cid"] for r in rows} == {0, 1}
        assert all(r["n_vecs"] == 2 and r["share"] == 0.5 for r in rows)
        assert all(r["imbalance"] == 3 * 8 / 16 for r in rows)
        # all mass in one cell: imbalance = nlist (the maximum)
        skewed = spark.createDataFrame(
            [(i, [10.0, 0.0]) for i in range(6)], "vec_id long, embedding array<double>"
        )
        rows = similarity.cell_occupancy(skewed, cents).collect()
        assert len(rows) == 1 and rows[0]["imbalance"] == 3.0
        # null/degenerate vectors (cid=null through the assigner) are
        # EXCLUDED: no null pseudo-cell row, and the share/imbalance
        # denominators count only really-assigned vectors (ADVICE r6)
        with_null = balanced.unionByName(
            spark.createDataFrame([(9, None)], "vec_id long, embedding array<double>")
        )
        rows = similarity.cell_occupancy(with_null, cents).collect()
        assert {r["cid"] for r in rows} == {0, 1}
        assert all(r["n_vecs"] == 2 and r["share"] == 0.5 for r in rows)
        assert all(r["imbalance"] == 3 * 8 / 16 for r in rows)

    def test_mmr_rerank_matches_python_greedy(self, spark, embeddings):
        import numpy as np

        queries = embeddings.filter("vec_id < 4")
        cands = similarity.cosine_topk(embeddings, queries, k=10)
        out = similarity.mmr_rerank(cands, embeddings, k=5, lam=0.7)
        got = {}
        for r in out.collect():
            got.setdefault(r["query_id"], []).append((r["mmr_rank"], r["neighbor_id"]))
        vecs = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in embeddings.collect()
        }
        cand_rows = {}
        for r in cands.collect():
            cand_rows.setdefault(r["query_id"], []).append(
                (r["neighbor_id"], r["cosine"])
            )
        for q, rows in cand_rows.items():
            ids = [n for n, _ in rows]
            rel = {n: c for n, c in rows}
            sel = []
            while len(sel) < 5 and len(sel) < len(ids):
                best = None
                for n in ids:
                    if n in sel:
                        continue
                    if not sel:
                        s = rel[n]
                    else:
                        ms = max(
                            float(vecs[n] @ vecs[m])
                            / (np.linalg.norm(vecs[n]) * np.linalg.norm(vecs[m]))
                            for m in sel
                        )
                        s = 0.7 * rel[n] - 0.3 * ms
                    if best is None or s > best[0] or (s == best[0] and n < best[1]):
                        best = (s, n)
                sel.append(best[1])
            assert [n for _, n in sorted(got[q])] == sel, (q, got[q], sel)

    def test_mmr_diversifies_planted_near_duplicates(self, spark):
        # three near-identical top hits + two distinct directions: plain
        # top-3 returns the clones; MMR keeps the best clone and brings
        # the distinct directions forward
        rows = [
            (0, [1.0, 0.0, 0.0]),          # the query
            (1, [0.99, 0.14, 0.0]),        # clone A
            (2, [0.99, 0.141, 0.0]),       # clone B
            (3, [0.99, 0.142, 0.0]),       # clone C
            (4, [0.7, 0.7, 0.0]),          # distinct direction 1
            (5, [0.7, 0.0, 0.7]),          # distinct direction 2
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = df.filter("vec_id = 0")
        cands = similarity.cosine_topk(df, q, k=5)
        plain = [r["neighbor_id"] for r in cands.filter("rank <= 3").collect()]
        assert set(plain) == {1, 2, 3}  # clones crowd the page
        mmr = similarity.mmr_rerank(cands, df, k=3, lam=0.3)
        picked = {r["neighbor_id"] for r in mmr.collect()}
        assert len(picked & {4, 5}) == 2  # both distinct directions surface
        assert len(picked & {1, 2, 3}) == 1  # one clone survives

    def test_recall_at_k_counts_and_zero_for_missing_queries(self, spark):
        from aws_data_wrangler_spark.operators import similarity

        exact = spark.createDataFrame(
            [(1, 10), (1, 11), (1, 12), (2, 20), (2, 21), (3, 30)],
            ["query_id", "neighbor_id"],
        )
        # query 1: 2/3 hit; query 2: 1/2; query 3 absent from approx → 0
        approx = spark.createDataFrame(
            [(1, 10), (1, 12), (1, 99), (2, 21), (2, 98)],
            ["query_id", "neighbor_id"],
        )
        rows = {
            r["query_id"]: (r["n_exact"], r["n_hit"], r["recall"])
            for r in similarity.recall_at_k(approx, exact).collect()
        }
        assert rows[1] == (3, 2, 2 / 3)
        assert rows[2] == (2, 1, 0.5)
        assert rows[3] == (1, 0, 0.0)

    def test_recall_at_k_perfect_for_self_comparison(self, spark, embeddings):
        from aws_data_wrangler_spark.operators import similarity

        exact = similarity.cosine_topk(embeddings, embeddings.filter("vec_id < 5"), k=5)
        out = similarity.recall_at_k(exact, exact)
        assert all(r["recall"] == 1.0 for r in out.collect())

    def test_pq_production_parameters_plan_in_seconds(self, spark, embeddings):
        # m=16 × 256 codes (FAISS-typical): with codebooks as one
        # nested-array literal the plan must build+run in seconds —
        # the round-4 per-centroid unrolled trees took minutes of
        # Catalyst time at these parameters
        import time

        t0 = time.time()
        books = similarity.train_pq_codebooks(embeddings, m=16, num_codes=256, iterations=0)
        queries = embeddings.filter("vec_id < 3")
        out = similarity.pq_topk(embeddings, queries, k=3, codebooks=books)
        rows = out.collect()
        elapsed = time.time() - t0
        assert len(rows) > 0
        assert elapsed < 60, f"production-parameter PQ took {elapsed:.1f}s"

    def test_bruteforce_topk_shape_and_determinism(self, spark, embeddings):
        queries = embeddings.filter("vec_id < 5")
        a = similarity.cosine_topk(embeddings, queries, k=3).collect()
        b = similarity.cosine_topk(embeddings, queries, k=3).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        per_query = {}
        for row in a:
            per_query.setdefault(row["query_id"], []).append(row["rank"])
        assert all(sorted(v) == [1, 2, 3] for v in per_query.values())

    def test_planted_twin_is_top1(self, spark, embeddings):
        twin = embeddings.filter("vec_id = 7").withColumn("vec_id", F.lit(999999).cast("bigint"))
        corpus = embeddings.unionByName(twin)
        queries = embeddings.filter("vec_id = 7")
        top = similarity.cosine_topk(corpus, queries, k=1).collect()[0]
        assert top["neighbor_id"] == 999999
        assert top["cosine"] >= 0.999999

    def test_arrow_variant_matches_jvm_pairs(self, spark, embeddings):
        queries = embeddings.filter("vec_id < 5")
        jvm = similarity.cosine_topk(embeddings, queries, k=5)
        arrow = similarity.cosine_topk_arrow(embeddings, queries, k=5)
        jvm_pairs = {(r["query_id"], r["neighbor_id"]) for r in jvm.collect()}
        arrow_pairs = {(r["query_id"], r["neighbor_id"]) for r in arrow.collect()}
        # matmul reassociation can flip exact ties; neighbor sets must
        # agree on ≥96% of pairs and scores within 1e-5
        assert len(jvm_pairs & arrow_pairs) / len(jvm_pairs) >= 0.96
        jvm_scores = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in jvm.collect()}
        for row in arrow.collect():
            key = (row["query_id"], row["neighbor_id"])
            if key in jvm_scores:
                assert abs(row["cosine"] - jvm_scores[key]) < 1e-5

    def test_lsh_recall(self, spark, embeddings):
        queries = embeddings.filter("vec_id < 10")
        exact = similarity.cosine_topk(embeddings, queries, k=5)
        approx = similarity.lsh_topk(embeddings, queries, k=5, num_tables=8, num_planes=4)
        e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
        # random 64-dim data: neighbors sit at cosine ~0.3-0.5, the hard
        # regime for hyperplane LSH; 8x4-bit tables ⇒ modest recall
        assert len(a & e) / len(e) >= 0.4

    def test_sq8_quantize_reconstruction_error_bounded(self, spark, embeddings):
        # symmetric int8: |x - code*scale| <= scale/2 = max|x|/254 per
        # component; zero vectors quantize cleanly
        from pyspark.sql import Row

        sample = embeddings.limit(20)
        q = similarity.quantize_embeddings(sample)
        joined = sample.join(q, "vec_id").collect()
        for r in joined:
            scale = r["scale"]
            for x, c in zip(r["embedding"], r["codes"]):
                assert abs(c) <= 127
                assert abs(float(x) - c * scale) <= scale / 2 + 1e-12
        zero = spark.createDataFrame(
            [Row(vec_id=1, embedding=[0.0] * 8)], "vec_id long, embedding array<float>"
        )
        zr = similarity.quantize_embeddings(zero).collect()[0]
        assert zr["scale"] == 0.0 and all(c == 0 for c in zr["codes"])

    def test_sq8_topk_recall_with_rescoring(self, spark, embeddings):
        # stage-1 int8 shortlist + exact rescore: recall@5 vs brute
        # force must stay high, and FINAL scores must be exact-cosine
        # (never the quantized approximation)
        queries = embeddings.filter("vec_id < 10")
        exact = similarity.cosine_topk(embeddings, queries, k=5)
        sq8 = similarity.sq8_topk(embeddings, queries, k=5, rescore_factor=3)
        e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        a = {(r["query_id"], r["neighbor_id"]) for r in sq8.collect()}
        assert len(a & e) / len(e) >= 0.9
        exact_scores = {
            (r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact.collect()
        }
        for r in sq8.collect():
            key = (r["query_id"], r["neighbor_id"])
            if key in exact_scores:
                assert r["cosine"] == exact_scores[key]

    def test_sq8_topk_accepts_prequantized_corpus(self, spark, embeddings):
        # the production shape: quantized table materialized once
        queries = embeddings.filter("vec_id < 5")
        qt = similarity.quantize_embeddings(embeddings).cache()
        a = similarity.sq8_topk(embeddings, queries, k=3, quantized=qt).collect()
        b = similarity.sq8_topk(embeddings, queries, k=3).collect()
        qt.unpersist()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_ivf_recall(self, spark, embeddings):
        queries = embeddings.filter("vec_id < 10")
        exact = similarity.cosine_topk(embeddings, queries, k=5)
        approx = similarity.ivf_topk(embeddings, queries, k=5, nprobe=8, num_centroids=16)
        e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
        assert len(a & e) / len(e) >= 0.6

    def test_ivf_recall_vs_nprobe_matrix(self, spark, embeddings):
        # characterize the approximation, don't just threshold it
        # (VERDICT r2 #7): on a planted-cluster corpus — 8 anchor
        # vectors, 8 deterministic noisy members each — recall@5 must
        # rise monotonically with nprobe and reach 1.0 at full probe
        # (nprobe == num_centroids scores the whole corpus, so IVF
        # degenerates to the exact scan by construction)
        anchors = embeddings.filter("vec_id < 8")
        members = None
        for m in range(8):
            noisy = anchors.select(
                (F.col("vec_id") * 100 + 1000 + m).alias("vec_id"),
                F.transform(
                    F.col("embedding"),
                    lambda x, i: x * (1.0 + 0.01 * ((i + m) % 3)) + 0.005 * m,
                ).alias("embedding"),
                "label",
            )
            members = noisy if members is None else members.unionByName(noisy)
        corpus = anchors.unionByName(members)
        queries = anchors
        exact = similarity.cosine_topk(corpus, queries, k=5)
        e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        centroids = similarity.train_ivf_centroids(corpus, num_centroids=8)
        recalls = {}
        for nprobe in (1, 4, 8):
            approx = similarity.ivf_topk(
                corpus, queries, k=5, nprobe=nprobe, num_centroids=8, centroids=centroids
            )
            a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
            recalls[nprobe] = len(a & e) / len(e)
        assert recalls[1] <= recalls[4] <= recalls[8], recalls
        assert recalls[8] == 1.0, recalls
        # a planted cluster concentrates each query's neighbors in one
        # cell, so even nprobe=1 must capture most of them
        assert recalls[1] >= 0.5, recalls

    def test_pq_pipeline(self, spark, embeddings):
        # one training pass feeds every assertion (the Lloyd loops are
        # the slow part); random-ish vectors are PQ's WORST case, so
        # the floors below are conservative by construction
        books = similarity.train_pq_codebooks(embeddings, m=8, num_codes=16, iterations=2)
        assert len(books) == 8 and len(books[0]) == 16 and len(books[0][0]) == 8
        enc = similarity.pq_encode(embeddings, books).cache()
        rows = enc.collect()
        assert len(rows) == embeddings.count()
        for r in rows[:50]:
            assert len(r["codes"]) == 8
            assert all(0 <= c < 16 for c in r["codes"])
            assert r["approx_norm"] > 0
        queries = embeddings.filter("vec_id < 10")
        exact = similarity.cosine_topk(embeddings, queries, k=5)
        exact_scores = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in similarity.cosine_topk(embeddings, queries, k=50).collect()
        }
        e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        recalls = {}
        for rf in (4, 20):
            out = similarity.pq_topk(
                embeddings, queries, k=5, codebooks=books, encoded=enc, rescore_factor=rf
            ).collect()
            recalls[rf] = len({(r["query_id"], r["neighbor_id"]) for r in out} & e) / len(e)
            # the rescore contract: every emitted score is the EXACT
            # cosine — quantization can cost recall, never wrong scores
            for r in out:
                key = (r["query_id"], r["neighbor_id"])
                if key in exact_scores:
                    assert r["cosine"] == exact_scores[key]
        assert recalls[4] <= recalls[20], recalls
        assert recalls[20] >= 0.8, recalls
        enc.unpersist()

    def test_ann_artifact_persistence_roundtrip(self, spark, embeddings, tmp_path):
        # train → save → load → BIT-IDENTICAL search results, for all
        # three persistable artifact kinds (codebooks JSON, centroid /
        # encoded tables parquet)
        queries = embeddings.filter("vec_id < 5")
        # PQ: codebooks + encoded corpus
        books = similarity.train_pq_codebooks(embeddings, m=8, num_codes=16, iterations=1)
        similarity.save_pq_codebooks(books, str(tmp_path / "books.json"), spark=spark)
        loaded_books = similarity.load_pq_codebooks(str(tmp_path / "books.json"), spark=spark)
        assert loaded_books == books  # exact float round-trip
        enc = similarity.pq_encode(embeddings, books)
        similarity.save_encoded_corpus(enc, str(tmp_path / "enc"))
        loaded_enc = similarity.load_encoded_corpus(spark, str(tmp_path / "enc"))
        base = similarity.pq_topk(
            embeddings, queries, k=5, codebooks=books, encoded=enc
        ).collect()
        loaded = similarity.pq_topk(
            embeddings, queries, k=5, codebooks=loaded_books, encoded=loaded_enc
        ).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, loaded))
        # IVF: centroid table
        cents = similarity.train_ivf_centroids(embeddings, num_centroids=8, iterations=1)
        similarity.save_ivf_centroids(cents, str(tmp_path / "cents"))
        loaded_cents = similarity.load_ivf_centroids(spark, str(tmp_path / "cents"))
        base = similarity.ivf_topk(embeddings, queries, k=5, centroids=cents).collect()
        loaded = similarity.ivf_topk(
            embeddings, queries, k=5, centroids=loaded_cents
        ).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, loaded))
        # SQ8: quantized table
        quant = similarity.quantize_embeddings(embeddings)
        similarity.save_encoded_corpus(quant, str(tmp_path / "sq8"))
        loaded_q = similarity.load_encoded_corpus(spark, str(tmp_path / "sq8"))
        base = similarity.sq8_topk(embeddings, queries, k=5, quantized=quant).collect()
        loaded = similarity.sq8_topk(
            embeddings, queries, k=5, quantized=loaded_q
        ).collect()
        assert sorted(map(tuple, base)) == sorted(map(tuple, loaded))

    def test_ivfpq_pipeline(self, spark, embeddings):
        queries = embeddings.filter("vec_id < 10")
        exact = similarity.cosine_topk(embeddings, queries, k=5)
        e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
        exact_scores = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in similarity.cosine_topk(embeddings, queries, k=100).collect()
        }
        out = similarity.ivfpq_topk(
            embeddings, queries, k=5, nprobe=8, num_centroids=16, rescore_factor=10,
            iterations=2,
        ).collect()
        a = {(r["query_id"], r["neighbor_id"]) for r in out}
        # residual PQ inside probed cells: recall well above plain PQ
        # at the same budget (measured 0.9 on this corpus)
        assert len(a & e) / len(e) >= 0.8
        # exact-rescore contract: emitted scores are exact cosines
        for r in out:
            key = (r["query_id"], r["neighbor_id"])
            if key in exact_scores:
                assert r["cosine"] == exact_scores[key]

    def test_ivfpq_accepts_pretrained_artifacts(self, spark, embeddings):
        # the production shape: centroids and codebooks trained once,
        # passed in — results identical to inline training (both paths
        # are deterministic)
        queries = embeddings.filter("vec_id < 5")
        cents = similarity.train_ivf_centroids(embeddings, num_centroids=8, iterations=2)
        assigned_kwargs = dict(k=3, nprobe=8, num_centroids=8, rescore_factor=4, iterations=2)
        inline = similarity.ivfpq_topk(embeddings, queries, **assigned_kwargs).collect()
        # codebooks must be trained on the SAME residuals the inline
        # path derives — rebuild them through the public pieces
        from pyspark.sql import functions as FF

        vec = FF.col("embedding").cast("array<double>")
        cvec = FF.col("cvec").cast("array<double>")
        from pyspark.sql import Window as W

        dist = FF.aggregate(
            FF.zip_with(vec, cvec, lambda x, y: (x - y) * (x - y)),
            FF.lit(0.0),
            lambda acc, x: acc + x,
        )
        residuals = (
            embeddings.crossJoin(FF.broadcast(cents))
            .withColumn(
                "rn",
                FF.row_number().over(
                    W.partitionBy("vec_id").orderBy(dist.asc(), FF.col("cid").asc())
                ),
            )
            .filter(FF.col("rn") == 1)
            .select("vec_id", FF.zip_with(vec, cvec, lambda x, y: x - y).alias("embedding"))
        )
        books = similarity.train_pq_codebooks(residuals, m=8, num_codes=16, iterations=2)
        pre = similarity.ivfpq_topk(
            embeddings, queries, centroids=cents, codebooks=books, **assigned_kwargs
        ).collect()
        assert sorted(map(tuple, pre)) == sorted(map(tuple, inline))

    def test_pq_rejects_indivisible_dim(self, spark, embeddings):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="divisible"):
            similarity.train_pq_codebooks(embeddings, m=7)

    def test_ivf_cosine_metric_full_probe_is_exact(self, spark, embeddings):
        # with the cosine coarse metric and nprobe == num_centroids,
        # every cell is probed, so IVF must reproduce the brute-force
        # scan exactly — scores included (both emit truncated cosine)
        from pyspark.sql import Window

        queries = embeddings.filter("vec_id < 5")
        seeds = (
            embeddings.orderBy("vec_id")
            .limit(8)
            .withColumn("cid", F.row_number().over(Window.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        exact = similarity.cosine_topk(embeddings, queries, k=5)
        approx = similarity.ivf_topk(
            embeddings, queries, k=5, nprobe=8, centroids=seeds, metric="cosine"
        )
        assert sorted(map(tuple, approx.collect())) == sorted(map(tuple, exact.collect()))

    def test_ivf_rejects_unknown_metric(self, spark, embeddings):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="metric"):
            similarity.ivf_topk(embeddings, embeddings.limit(1), metric="manhattan")


class TestSketches:
    def test_hll_tracks_exact_distinct(self, spark, events):
        """approx_count_distinct (HyperLogLog++) — the sketch path for
        100 TB cardinalities; exact twin is the events_distinct_users
        query. rsd=0.01 keeps error ~1% at any scale."""
        both = events.groupBy("event_type").agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
        )
        for row in both.collect():
            assert abs(row["approx"] - row["exact"]) <= max(3, 0.05 * row["exact"])


class TestText:
    def test_token_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "hello world"), (2, ""), (3, "  a  b  "), (4, "x1, y2!")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: (r["ws_tokens"], r["bpe_tokens"]) for r in text.with_token_counts(df).collect()}
        assert rows[1] == (2, 2)
        assert rows[2] == (0, 0)
        assert rows[3][0] == 2
        assert rows[4] == (2, 6)  # x,1,",",y,2,"!"

    def test_char_entropy_hand_values(self, spark):
        import math
        from collections import Counter

        df = spark.createDataFrame(
            [(1, "aabb"), (2, ""), (3, "abcd"), (4, "aaaa"), (5, "hello world")],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r["char_entropy"] for r in text.with_char_entropy(df).collect()}
        assert got[1] == 1.0      # two symbols, uniform
        assert got[2] == 0.0      # empty text scores 0 by contract
        assert got[3] == 2.0      # four symbols, uniform
        assert got[4] == 0.0      # single repeated symbol
        # general case matches the Counter-based replica (sorted fold)
        s = "hello world"
        n = len(s)
        sm = sum(c * math.log(c) for _, c in sorted(Counter(s).items()))
        assert got[5] == math.floor(((math.log(n) - sm / n) / math.log(2.0)) * 1e6) / 1e6

    def test_pack_sequences_layout(self, spark, documents):
        import pytest

        budget = 64
        packed = text.pack_sequences(documents, budget=budget)
        rows = packed.collect()
        assert len(rows) == documents.count()
        # offsets live inside their sequence and match the concat layout:
        # within each source, sorting by (seq_id, seq_offset) must walk
        # token starts in non-decreasing global-offset order with no gaps
        by_source = {}
        for r in rows:
            assert 0 <= r["seq_offset"] < budget
            assert r["seq_id"] >= 0
            by_source.setdefault(r["source"], []).append(r)
        for source, rs in by_source.items():
            rs.sort(key=lambda r: (r["seq_id"], r["seq_offset"]))
            offset = 0
            for r in rs:
                assert r["seq_id"] * budget + r["seq_offset"] == offset
                offset += r["ws_tokens"]
        with pytest.raises(ValueError):
            text.pack_sequences(documents, budget=0)

    def test_quality_score_bounds(self, spark, documents):
        scored = text.with_quality_score(documents)
        bad = scored.filter("quality_score < 0 OR quality_score > 1").count()
        assert bad == 0

    def test_lang_id_deterministic_markers(self, spark):
        df = spark.createDataFrame(
            [(1, "the cat and the dog is that"), (2, "el perro es que la casa los")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r["lang_pred"] for r in text.with_lang_id(df).collect()}
        assert rows[1] == "en"
        assert rows[2] == "es"

    # (text, de, en, es, fr, zh, lang_pred, lang_score, n_chars_q,
    # ws_tokens, punct_ratio, stopword_ratio, mean_word_len,
    # quality_score): values of the per-expression implementation that
    # scanned the text once per language and re-evaluated each count in
    # every output that used it
    SCORED_EDGES = [
        ("", 0, 0, 0, 0, 0, "de", 0, 0, 0, 0.0, 0.0, 0.0, 0.3),
        ("   ", 0, 0, 0, 0, 0, "de", 0, 3, 0, 0.0, 0.0, 0.0, 0.3024),
        (" \t\n ", 0, 0, 0, 0, 0, "de", 0, 4, 2, 0.0, 0.0, 2.0, 0.303199),
        ("...!?", 0, 0, 0, 0, 0, "de", 0, 5, 1, 1.0, 0.0, 5.0, 0.004),
        ("!!! ,,, ;;", 0, 0, 0, 0, 0, "de", 0, 10, 3, 0.8, 0.0, 3.333333, 0.008),
        ("The the THE the. the,the", 0, 6, 0, 0, 0, "en", 6, 24, 5, 0.083333, 1.2, 4.8, 0.3692),
        ("x_the the_x the1 _the", 0, 0, 0, 0, 0, "de", 0, 21, 4, 0.0, 0.0, 5.25, 0.316799),
        ("的 是 了 在 我", 0, 0, 0, 0, 5, "zh", 5, 9, 5, 0.555555, 0.0, 1.8, 0.0072),
        ("a的b 是是 我", 0, 0, 0, 0, 1, "zh", 1, 8, 3, 0.5, 0.0, 2.666666, 0.0064),
        ("我的是了在", 0, 0, 0, 0, 0, "de", 0, 5, 1, 1.0, 0.0, 5.0, 0.004),
        ("la las le les el los", 0, 0, 4, 3, 0, "es", 4, 20, 6, 0.0, 0.0, 3.333333, 0.316),
        ("que la", 0, 0, 2, 2, 0, "es", 2, 6, 2, 0.0, 0.0, 3.0, 0.3048),
        ("the", 0, 1, 0, 0, 0, "en", 1, 3, 1, 0.0, 1.0, 3.0, 0.6024),
        ("der die das und ist nicht", 6, 0, 0, 0, 0, "de", 6, 25, 6, 0.0, 0.0, 4.166666, 0.32),
        ("tab\tsep\tthe\tand", 0, 2, 0, 0, 0, "en", 2, 15, 4, 0.0, 0.5, 3.75, 0.612),
        (
            "Hello, world! This is a test of the quality score.",
            0, 3, 0, 0, 0, "en", 3, 50, 10, 0.06, 0.4, 5.0, 0.459999,
        ),
    ]

    def test_lang_id_and_quality_score_edge_values(self, spark):
        df = spark.createDataFrame(
            [(i, row[0]) for i, row in enumerate(self.SCORED_EDGES)], "doc_id long, text string"
        )
        out = text.with_quality_score(text.with_lang_id(df)).orderBy("doc_id")
        assert out.dtypes[2:] == [
            ("score_de", "int"), ("score_en", "int"), ("score_es", "int"),
            ("score_fr", "int"), ("score_zh", "int"), ("lang_pred", "string"),
            ("lang_score", "bigint"), ("n_chars_q", "bigint"), ("ws_tokens", "bigint"),
            ("punct_ratio", "double"), ("stopword_ratio", "double"),
            ("mean_word_len", "double"), ("quality_score", "double"),
        ]
        assert [tuple(r)[1:] for r in out.collect()] == self.SCORED_EDGES

    def test_null_text_scores_null(self, spark):
        # least() skips NULLs, so NULL text once scored 0.7 and passed a
        # 0.5 quality gate; and the argmax over NULL scores guessed 'zh'
        # (and outside ANSI mode size() of a NULL array is -1)
        df = spark.createDataFrame([(1, None), (2, "the")], "doc_id long, text string")
        ansi = spark.conf.get("spark.sql.ansi.enabled")
        try:
            for mode in ("true", "false"):
                spark.conf.set("spark.sql.ansi.enabled", mode)
                out = text.with_quality_score(text.with_lang_id(df))
                rows = {r["doc_id"]: r for r in out.collect()}
                assert all(rows[1][c] is None for c in out.columns[1:]), (mode, rows[1])
                assert rows[2]["quality_score"] == 0.6024 and rows[2]["lang_pred"] == "en"
        finally:
            spark.conf.set("spark.sql.ansi.enabled", ansi)

    def test_text_scores_evaluate_each_scan_once(self, spark, documents):
        # the per-document counts are one base projection: inlined, the
        # executed plan spelled out the stopword scan 2x, the punctuation
        # strip 2x and the token split 7x, and language id scanned the
        # text once per language
        from aws_data_wrangler_spark.plans.audit import plan_summary

        quality = plan_summary(text.with_quality_score(documents))["plan"]
        assert quality.count("regexp_extract_all(") == 1
        assert quality.count("regexp_replace(") == 1
        assert quality.count("split(") == 1
        lang = plan_summary(text.with_lang_id(documents))["plan"]
        assert lang.count("regexp_extract_all(") == 1

    def test_chunk_tokens_windows(self, spark):
        words = " ".join(f"w{i}" for i in range(95))
        df = spark.createDataFrame([(1, words), (2, "solo"), (3, "  ")], "doc_id long, text string")
        chunks = text.chunk_tokens(df, chunk_size=50, stride=40).collect()
        by_doc = {}
        for r in chunks:
            by_doc.setdefault(r["doc_id"], []).append(r)
        # doc 1: starts at 0, 40, 80 → lengths 50, 50, 15
        d1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
        assert [r["n_tokens"] for r in d1] == [50, 50, 15]
        assert d1[0]["chunk_text"].split()[0] == "w0"
        assert d1[1]["chunk_text"].split()[0] == "w40"
        assert d1[2]["chunk_text"].split() == [f"w{i}" for i in range(80, 95)]
        # consecutive chunks overlap by chunk_size - stride = 10 tokens
        assert d1[0]["chunk_text"].split()[40:] == d1[1]["chunk_text"].split()[:10]
        # single-token doc → one chunk; blank doc → none
        assert [r["n_tokens"] for r in by_doc[2]] == [1]
        assert 3 not in by_doc

    def test_repetition_fractions(self, spark):
        df = spark.createDataFrame(
            [(1, "a a a a"), (2, "a b c d"), (3, "a b a b"), (4, "x")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: (r["dup_word_frac"], r["dup_bigram_frac"]) for r in text.with_repetition(df).collect()}
        assert rows[1] == (0.75, pytest.approx(2 / 3, abs=1e-6))  # 1 uniq word/4, 1 uniq bigram/3
        assert rows[2] == (0.0, 0.0)
        assert rows[3] == (0.5, pytest.approx(1 / 3, abs=1e-6))  # bigrams: ab ba ab
        assert rows[4] == (0.0, 0.0)  # single token: no bigrams

    def test_fingerprint_normalization(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello, World!"), (2, "HELLO world"), (3, "different")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r["fingerprint"] for r in text.with_fingerprint(df).collect()}
        assert rows[1] == rows[2]
        assert rows[1] != rows[3]


class TestMultimodal:
    def test_decode_plumbing(self, spark, documents):
        media = multimodal.attach_binary_payload(documents.limit(20))
        decoded = multimodal.decode_media(media)
        rows = decoded.collect()
        assert len(rows) == 20
        for row in rows:
            assert 64 <= row["width"] <= 256 and 64 <= row["height"] <= 256
            assert len(row["feature"]) == 8
            assert row["size_bytes"] > 0

    def test_decode_deterministic(self, spark, documents):
        media = multimodal.attach_binary_payload(documents.limit(5))
        a = sorted(map(tuple, multimodal.decode_media(media).collect()))
        b = sorted(map(tuple, multimodal.decode_media(media).collect()))
        assert a == b

    def test_real_decode_kernel_with_injected_pil(self):
        # the real-image path, unit-tested against a stand-in PIL
        # module (Pillow itself is absent in this container)
        import numpy as np

        class FakeImg:
            size = (320, 240)

            def convert(self, mode):
                return self

            def resize(self, dims):
                class Arr:
                    pass

                return np.zeros((dims[1], dims[0], 3), dtype=np.uint8) + 128

        class FakeImageMod:
            @staticmethod
            def open(buf):
                assert buf.read(4) == b"test"
                return FakeImg()

        w, h, feat = multimodal._real_decode(b"test-payload", FakeImageMod)
        assert (w, h) == (320, 240)
        assert len(feat) == 8
        assert abs(feat[0] - 128 / 255.0) < 1e-5  # channel mean
        assert feat[3] == 0.0  # zero std on constant image

    def test_real_dhash_kernel_with_injected_pil(self):
        import numpy as np

        class FakeImg:
            def __init__(self, arr):
                self._arr = arr

            def convert(self, mode):
                assert mode == "L"
                return self

            def resize(self, dims):
                assert dims == (9, 8)
                return self._arr

            def __array__(self, dtype=None):
                return self._arr.astype(dtype or self._arr.dtype)

        rising = np.tile(np.arange(9, dtype=np.float64), (8, 1))

        class RisingMod:
            @staticmethod
            def open(buf):
                return FakeImg(rising)

        class FallingMod:
            @staticmethod
            def open(buf):
                return FakeImg(rising[:, ::-1].copy())

        # monotone-rising rows: no pixel brighter than its right
        # neighbor → all 64 bits clear; falling rows → all set (signed -1)
        assert multimodal._real_dhash(b"x", RisingMod) == 0
        assert multimodal._real_dhash(b"x", FallingMod) == -1

    def test_image_near_dup_pairs_planted(self, spark):
        df = spark.createDataFrame(
            [
                (1, "identical payload text"),
                (2, "identical payload text"),     # byte-identical twin of 1
                (3, "a completely different doc"),
                (4, "yet another unrelated doc"),
            ],
            "doc_id long, text string",
        )
        media = multimodal.attach_binary_payload(df)
        pairs = multimodal.image_near_dup_pairs(media, max_hamming=6).collect()
        # fake dhash = digest-derived: identical payloads collide at
        # hamming 0; unrelated 64-bit values sit ~32 bits apart
        assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(1, 2, 0)]

    def test_image_dhash_deterministic_with_provenance(self, spark, documents):
        media = multimodal.attach_binary_payload(documents.limit(10))
        a = sorted(map(tuple, multimodal.image_dhash(media).collect()))
        b = sorted(map(tuple, multimodal.image_dhash(media).collect()))
        assert a == b
        assert all(r[2] == "fake" for r in a)  # no Pillow in this container

    def test_real_audio_kernel_with_injected_soundfile(self):
        import numpy as np

        class FakeSf:
            @staticmethod
            def read(buf):
                return np.ones(8000) * 0.5, 8000

        sr, n, profile = multimodal._real_audio_decode(b"wav-bytes", FakeSf)
        assert (sr, n) == (8000, 8000)
        assert profile == [0.5, 0.5, 0.5, 0.5]  # RMS of constant signal

    def test_real_audio_fp_kernel_with_injected_soundfile(self):
        import numpy as np

        class RisingSf:
            @staticmethod
            def read(buf):
                # energy strictly grows window-over-window → all 64 bits set
                return np.arange(1, 651, dtype=np.float64) / 650.0, 8000

        class FallingSf:
            @staticmethod
            def read(buf):
                return np.arange(650, 0, -1, dtype=np.float64) / 650.0, 8000

        class ShortSf:
            @staticmethod
            def read(buf):
                return np.ones(10), 8000

        assert multimodal._real_audio_fp(b"wav", RisingSf) == -1  # all bits → signed -1
        assert multimodal._real_audio_fp(b"wav", FallingSf) == 0
        import pytest as _pytest

        with _pytest.raises(ValueError, match="65-window"):
            multimodal._real_audio_fp(b"wav", ShortSf)

    def test_real_audio_fp_decodes_an_actual_wav(self, spark):
        # VERDICT r4 #8: the real path exercised on a GENUINE WAV byte
        # stream (stdlib `wave` writes a valid RIFF/WAVE container),
        # not a canned array. With soundfile installed the full Spark
        # operator decodes it (decoder='real'); without, a stdlib-wave
        # decoder stand-in performs the same real container parse —
        # either way the fingerprint must equal the energy-contour
        # bits computed independently from the planted amplitudes.
        import io
        import struct
        import wave

        import numpy as np

        # 65 windows x 100 samples; distinct per-window amplitudes in
        # a deterministic non-monotone pattern -> no energy ties
        amps = [(i * 37) % 64 + 1 for i in range(65)]
        samples = []
        for a in amps:
            samples.extend([a * 300] * 100)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(struct.pack(f"<{len(samples)}h", *samples))
        wav_bytes = buf.getvalue()
        assert wav_bytes[:4] == b"RIFF" and wav_bytes[8:12] == b"WAVE"

        expected = 0
        for i in range(64):
            if amps[i + 1] > amps[i]:  # equal-width windows, constant
                expected |= 1 << i     # amplitude: energy order = amp order
        expected = expected - (1 << 64) if expected >= (1 << 63) else expected

        try:
            import soundfile as sf_mod  # noqa: F401

            have_soundfile = True
        except ImportError:
            have_soundfile = False

        if have_soundfile:
            # full operator, real decode on workers
            df = spark.createDataFrame(
                [(1, bytearray(wav_bytes))], "doc_id long, payload binary"
            )
            rows = multimodal.audio_fingerprint(df, use_real_decoder=True).collect()
            assert rows[0]["decoder"] == "real"
            assert rows[0]["afp"] == expected
        else:
            # container fallback: a stdlib-wave decoder performing the
            # same real RIFF parse soundfile would
            class StdlibWavSf:
                @staticmethod
                def read(fileobj):
                    with wave.open(fileobj, "rb") as r:
                        rate = r.getframerate()
                        raw = r.readframes(r.getnframes())
                    data = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
                    return data, rate

            got = multimodal._real_audio_fp(wav_bytes, StdlibWavSf)
            assert got == expected

    def test_audio_near_dup_pairs_planted(self, spark):
        df = spark.createDataFrame(
            [
                (1, "identical waveform bytes"),
                (2, "identical waveform bytes"),
                (3, "a completely different clip"),
                (4, "yet another unrelated clip"),
            ],
            "doc_id long, text string",
        )
        media = multimodal.attach_binary_payload(df, media_type="audio/fake")
        pairs = multimodal.audio_near_dup_pairs(media, max_hamming=6).collect()
        assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(1, 2, 0)]
        # the salted fake fingerprint never equals the fake image dhash
        # of the same payload (distinct modality sketches)
        afp = {r["doc_id"]: r["afp"] for r in multimodal.audio_fingerprint(media).collect()}
        dh = {r["doc_id"]: r["dhash"] for r in multimodal.image_dhash(media).collect()}
        assert all(afp[k] != dh[k] for k in afp)

    def test_video_near_dup_pairs_planted(self, spark):
        df = spark.createDataFrame(
            [
                (1, "identical video payload"),
                (2, "identical video payload"),   # full frame-set twin of 1
                (3, "a completely different clip"),
                (4, "yet another unrelated clip"),
            ],
            "doc_id long, text string",
        )
        media = multimodal.attach_binary_payload(df, media_type="video/fake")
        frames = multimodal.video_frame_hashes(media).collect()
        per_doc = {}
        for r in frames:
            per_doc.setdefault(r["doc_id"], []).append(r["fhash"])
        assert all(4 <= len(v) <= 8 for v in per_doc.values())
        assert sorted(per_doc[1]) == sorted(per_doc[2])
        pairs = multimodal.video_near_dup_pairs(media, threshold=0.5).collect()
        assert [(r["id_a"], r["id_b"], r["overlap"]) for r in pairs] == [(1, 2, 1.0)]
        # strict mode documents the missing real decoder
        import pytest as _pytest

        with _pytest.raises(NotImplementedError, match="video decoder"):
            multimodal.video_frame_hashes(media, use_real_decoder=True)

    def test_video_near_dup_handles_negative_doc_ids(self, spark):
        # the fid packing (doc_id*1024 + frame_idx) must stay
        # reversible for negative ids: floor-div for the video id,
        # pmod for the frame index (plain % corrupted both)
        df = spark.createDataFrame(
            [
                (-7, "identical video payload"),
                (2, "identical video payload"),
                (3, "a completely different clip"),
            ],
            "doc_id long, text string",
        )
        media = multimodal.attach_binary_payload(df, media_type="video/fake")
        pairs = multimodal.video_near_dup_pairs(media, threshold=0.5).collect()
        assert [(r["id_a"], r["id_b"], r["overlap"]) for r in pairs] == [(-7, 2, 1.0)]

    def test_decoder_provenance_column(self, spark, documents):
        # every output row says HOW it was produced: in this container
        # (no Pillow/soundfile) the fake path must label itself
        media = multimodal.attach_binary_payload(documents.limit(5))
        assert {r["decoder"] for r in multimodal.decode_media(media).collect()} == {"fake"}
        audio = multimodal.extract_audio_features(media)
        assert {r["decoder"] for r in audio.collect()} == {"fake"}

    def test_decode_row_marks_per_payload_failures_as_error(self):
        # library present but a corrupt payload fails to decode: the
        # substituted features must be labeled 'error', never 'real' —
        # a mixed real/fake feature space has to be detectable
        class ExplodingImageMod:
            @staticmethod
            def open(buf):
                raise OSError("truncated image")

        w, h, feat, status = multimodal._decode_row(b"corrupt", ExplodingImageMod, strict=False)
        assert status == "error"
        assert len(feat) == 8  # stand-in feature shape preserved
        with pytest.raises(OSError):
            multimodal._decode_row(b"corrupt", ExplodingImageMod, strict=True)
        assert multimodal._decode_row(b"x", None, strict=False)[3] == "fake"

        class ExplodingSf:
            @staticmethod
            def read(buf):
                raise OSError("bad wav")

        assert multimodal._decode_audio_row(b"corrupt", ExplodingSf, strict=False)[3] == "error"

    def test_decode_forced_real_raises_without_pil(self, spark, documents):
        media = multimodal.attach_binary_payload(documents.limit(2))
        with pytest.raises(Exception):  # task raises NotImplementedError
            multimodal.decode_media(media, use_real_decoder=True).collect()

    def test_audio_features_fake_path(self, spark, documents):
        media = multimodal.attach_binary_payload(documents.limit(10), media_type="audio/fake")
        rows = multimodal.extract_audio_features(media).collect()
        assert len(rows) == 10
        for row in rows:
            assert row["sample_rate"] in (8000, 16000, 22000, 44000)
            assert len(row["loudness"]) == 4

    def test_resize_and_frames(self, spark, documents):
        media = multimodal.attach_binary_payload(documents.limit(5))
        decoded = multimodal.resize_stub(multimodal.decode_media(media), target=224)
        for row in decoded.collect():
            assert min(row["resized_width"], row["resized_height"]) == 224
        frames = multimodal.frame_sample_plan(decoded, fps=1.0)
        assert frames.count() >= 5


class TestUnigramSurprisal:
    def test_rare_words_score_higher(self, spark):
        # 9 docs of common boilerplate + 1 doc of unique words: the
        # rare-word doc must get the highest avg surprisal
        rows = [(i, "the quick brown fox jumps") for i in range(9)]
        rows.append((9, "zyzzyva quokka axolotl wombat numbat"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        from aws_data_wrangler_spark.operators import text

        out = {r["doc_id"]: r["avg_surprisal"] for r in text.unigram_surprisal(df).collect()}
        assert out[9] == max(out.values())
        assert all(out[i] == out[0] for i in range(9))  # identical docs tie

    def test_token_count_and_determinism(self, spark, documents):
        from aws_data_wrangler_spark.operators import text

        a = sorted(map(tuple, text.unigram_surprisal(documents.limit(50)).collect()))
        b = sorted(map(tuple, text.unigram_surprisal(documents.limit(50)).collect()))
        assert a == b
        assert all(r[1] > 0 and r[2] > 0 for r in a)  # n_toks, surprisal positive


class TestSampling:
    def test_weighted_sample_bias_and_determinism(self, spark):
        from aws_data_wrangler_spark.operators import sampling

        # 100 heavy rows (w=50) among 900 light (w=1): a 100-draw must
        # be dominated by heavy rows (P ∝ weight); non-positive weights
        # never drawn; the draw is identical across partitionings
        rows = [(i, 50.0 if i < 100 else 1.0) for i in range(1000)]
        rows += [(2000, 0.0), (2001, -3.0)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        got = sampling.weighted_sample(df, 100, "w")
        ids = {r["doc_id"] for r in got.collect()}
        assert len(ids) == 100
        heavy = sum(1 for i in ids if i < 100)
        assert heavy >= 70  # E[heavy] ≈ 85 at 50:1 odds
        assert not ids & {2000, 2001}
        re_ids = {
            r["doc_id"]
            for r in sampling.weighted_sample(df.repartition(13), 100, "w").collect()
        }
        assert re_ids == ids
        # a different salt decorrelates the draw
        other = {
            r["doc_id"]
            for r in sampling.weighted_sample(df, 100, "w", salt="z").collect()
        }
        assert other != ids

    def test_hash_sample_deterministic_and_proportional(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling

        a = {r["doc_id"] for r in sampling.hash_sample(documents, 0.5).select("doc_id").collect()}
        b = {r["doc_id"] for r in sampling.hash_sample(documents, 0.5).select("doc_id").collect()}
        assert a == b  # deterministic across runs
        n = documents.count()
        assert 0.35 * n <= len(a) <= 0.65 * n  # md5 prefix ≈ uniform
        # nested property: a 0.25 sample is a subset of the 0.5 sample
        quarter = {r["doc_id"] for r in sampling.hash_sample(documents, 0.25).select("doc_id").collect()}
        assert quarter <= a
        # salt decorrelates
        salted = {r["doc_id"] for r in sampling.hash_sample(documents, 0.5, salt="x").select("doc_id").collect()}
        assert salted != a

    def test_hash_split_disjoint_exhaustive_stable(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling

        split = sampling.hash_split(documents, {"train": 0.8, "val": 0.1, "test": 0.1})
        counts = {
            r["split"]: r["n"]
            for r in split.groupBy("split").agg(F.count("*").alias("n")).collect()
        }
        n = documents.count()
        # exhaustive (every row labeled) and roughly proportional
        assert sum(counts.values()) == n
        assert 0.65 * n <= counts["train"] <= 0.95 * n
        # invariant to partitioning
        again = {
            (r["doc_id"], r["split"])
            for r in sampling.hash_split(
                documents.repartition(7), {"train": 0.8, "val": 0.1, "test": 0.1}
            ).select("doc_id", "split").collect()
        }
        first = {(r["doc_id"], r["split"]) for r in split.select("doc_id", "split").collect()}
        assert again == first
        # first-band containment: a 0.5 hash_sample with the same salt
        # sits entirely inside the 0.8 train band
        half = {r["doc_id"] for r in sampling.hash_sample(documents, 0.5).select("doc_id").collect()}
        train = {r["doc_id"] for r in split.filter(F.col("split") == "train").select("doc_id").collect()}
        assert half <= train
        # growing train only moves rows INTO train (monotone boundary)
        bigger = sampling.hash_split(documents, {"train": 0.9, "val": 0.05, "test": 0.05})
        train2 = {r["doc_id"] for r in bigger.filter(F.col("split") == "train").select("doc_id").collect()}
        assert train <= train2

    def test_split_bounds_shared_band_arithmetic(self, spark):
        # the oracle derives thresholds from split_bounds — pin the
        # contract: ordered contiguous bounds, final band unbounded,
        # and the guards hash_split fronts
        import pytest as _pytest

        from aws_data_wrangler_spark.operators import sampling

        bounds = sampling.split_bounds({"train": 0.8, "val": 0.1, "test": 0.1})
        assert [n for n, _ in bounds] == ["train", "val", "test"]
        assert bounds[-1][1] is None
        hexes = [b for _, b in bounds[:-1]]
        assert hexes == sorted(hexes) and all(len(h) == 8 for h in hexes)
        with _pytest.raises(ValueError, match="at least one"):
            sampling.split_bounds({})
        with _pytest.raises(ValueError, match="positive"):
            sampling.split_bounds({"a": 0.0, "b": 0.0})

    def test_stratified_sample_rates(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling

        kept = sampling.stratified_sample(
            documents, {"src0": 1.0, "src1": 0.0}, default_fraction=0.5
        )
        counts = {r["source"]: r["n"] for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()}
        full = {r["source"]: r["n"] for r in documents.groupBy("source").agg(F.count("*").alias("n")).collect()}
        assert counts["src0"] == full["src0"]  # fraction 1.0 keeps all
        assert "src1" not in counts  # fraction 0.0 drops all
        for s, c in counts.items():
            if s not in ("src0", "src1"):
                assert c < full[s]

    def test_stratified_sample_null_id_parity_with_keep_fast_paths(self, spark):
        # review finding r11: the broadcast-join rewrite must preserve
        # _keep's fast-path semantics for NULL ids — fraction >= 1.0
        # was lit(True) (keeps NULL-id rows), fractional strata compare
        # md5(NULL) -> NULL -> dropped, fraction <= 0 drops all
        from aws_data_wrangler_spark.operators import sampling

        rows = [
            (1, "all"), (None, "all"),
            (2, "half"), (None, "half"),
            (3, "none"), (None, "none"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, source string")
        kept = sampling.stratified_sample(
            df, {"all": 1.0, "half": 0.5, "none": 0.0}, default_fraction=1.0
        )
        got = [(r["doc_id"], r["source"]) for r in kept.collect()]
        assert (None, "all") in got        # keep-all keeps NULL ids
        assert (1, "all") in got
        assert (None, "half") not in got   # fractional: NULL coin drops
        assert (3, "none") not in got and (None, "none") not in got
        # and the default fraction's fast path behaves the same way
        default_all = sampling.stratified_sample(df, {}, default_fraction=1.0)
        assert default_all.count() == 6

    def test_token_budget_sample_crosses_budget_exactly(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling, text

        docs = text.with_token_counts(documents)
        budget = 100
        kept = sampling.token_budget_sample(docs, {}, default_budget=budget)
        totals = {
            r["source"]: r["tok"]
            for r in docs.groupBy("source").agg(F.sum("ws_tokens").alias("tok")).collect()
        }
        kept_tok = {
            r["source"]: r["tok"]
            for r in kept.groupBy("source").agg(F.sum("ws_tokens").alias("tok")).collect()
        }
        kept_ids = {
            r["source"]: r["n"]
            for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        for source, total in totals.items():
            # budget reached unless the stratum ran out of tokens
            assert kept_tok[source] >= min(budget, total)
            # minimality: without its last hash-ordered doc the draw is
            # under budget (the crossing doc is the only overshoot)
            if kept_tok[source] > budget:
                from pyspark.sql.window import Window

                order = F.md5(F.col("doc_id").cast("string"))
                w = Window.partitionBy("source").orderBy(order.desc(), F.col("doc_id").desc())
                trimmed = (
                    kept.filter(F.col("source") == source)
                    .withColumn("rn", F.row_number().over(w))
                    .filter("rn > 1")
                )
                trimmed_tok = trimmed.agg(F.sum("ws_tokens")).first()[0] or 0
                assert trimmed_tok < budget
        # deterministic
        again = sampling.token_budget_sample(docs, {}, default_budget=budget)
        assert {r["doc_id"] for r in kept.select("doc_id").collect()} == {
            r["doc_id"] for r in again.select("doc_id").collect()
        }

    def test_epoch_mixture_exact_targets_and_epochs(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling

        counts = {r[0]: r[1] for r in documents.groupBy("source").count().collect()}
        src = sorted(counts)
        up, down = src[0], src[1]
        targets = {up: counts[up] * 2 + 3, down: max(counts[down] - 5, 1)}
        out = sampling.epoch_mixture(documents, targets).cache()
        got = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
        # exact per-stratum output sizes; unlisted strata dropped
        assert got == targets, (got, targets)
        # up-sampled stratum: every doc in epochs 0 and 1, exactly 3
        # docs (the lowest hash ranks) get epoch 2
        per_epoch = {
            r["epoch"]: r["n"]
            for r in out.filter(F.col("source") == up)
            .groupBy("epoch").agg(F.count("*").alias("n")).collect()
        }
        assert per_epoch == {0: counts[up], 1: counts[up], 2: 3}
        # down-sampled stratum: one partial epoch == the fixed-size draw
        drawn = {
            r["doc_id"]
            for r in out.filter(F.col("source") == down).select("doc_id").collect()
        }
        expect = {
            r["doc_id"]
            for r in sampling.fixed_size_sample(
                documents.filter(F.col("source") == down), k=targets[down]
            ).select("doc_id").collect()
        }
        assert drawn == expect
        out.unpersist()
        # deterministic across runs; negative targets refused
        again = sampling.epoch_mixture(documents, targets)
        assert again.count() == sum(targets.values())
        with pytest.raises(ValueError):
            sampling.epoch_mixture(documents, {up: -1})

    def test_epoch_mixture_null_strata_are_first_class(self, spark, documents):
        # a realistic corpus has rows with a missing source value:
        # plan build must not crash (the sorted(None, str) TypeError),
        # NULL strata must be targetable via a None key, and must fall
        # to default_target (0 => dropped) when untargeted
        from aws_data_wrangler_spark.operators import sampling

        docs = documents.withColumn(
            "source",
            F.when(F.col("doc_id") % 10 == 0, F.lit(None)).otherwise(F.col("source")),
        )
        n_null = docs.filter(F.col("source").isNull()).count()
        assert n_null > 0
        # untargeted: NULL stratum dropped, plan builds fine
        some = sorted(
            r[0] for r in docs.select("source").distinct().collect() if r[0] is not None
        )[0]
        out = sampling.epoch_mixture(docs, {some: 7})
        assert out.filter(F.col("source").isNull()).count() == 0
        assert out.count() == 7
        # targeted via the None key: exact up-sampled output
        out2 = sampling.epoch_mixture(docs, {None: n_null * 2 + 1, some: 3})
        got = out2.filter(F.col("source").isNull()).count()
        assert got == n_null * 2 + 1
        assert out2.filter(F.col("source") == some).count() == 3

    def test_epoch_mixture_token_mode(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling, text

        docs = text.with_token_counts(documents)
        src = sorted(r[0] for r in docs.select("source").distinct().collect())[0]
        tok_total = docs.filter(F.col("source") == src).agg(
            F.sum("ws_tokens")
        ).collect()[0][0]
        target = int(tok_total * 2.5)
        out = sampling.epoch_mixture(
            docs, {src: target}, token_col="ws_tokens"
        ).cache()
        # token target reached exactly-or-just-over: 2 whole epochs +
        # a partial that stops at the crossing document
        got = out.agg(F.sum("ws_tokens")).collect()[0][0]
        max_doc = docs.filter(F.col("source") == src).agg(
            F.max("ws_tokens")
        ).collect()[0][0]
        assert target <= got < target + max_doc, (target, got, max_doc)
        per_epoch = {
            r["epoch"]: r["n"]
            for r in out.groupBy("epoch").agg(F.count("*").alias("n")).collect()
        }
        n_docs = docs.filter(F.col("source") == src).count()
        assert per_epoch[0] == n_docs and per_epoch[1] == n_docs
        assert 0 < per_epoch[2] < n_docs
        # the partial epoch IS the token-budget draw at the remainder
        rem = target - 2 * tok_total
        expect = {
            r["doc_id"]
            for r in sampling.token_budget_sample(
                docs.filter(F.col("source") == src), {src: rem}
            ).select("doc_id").collect()
        }
        partial = {r["doc_id"] for r in out.filter(F.col("epoch") == 2).collect()}
        assert partial == expect
        out.unpersist()

    def test_fixed_size_sample_exact_k(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling

        out = sampling.fixed_size_sample(documents, k=5, strata_col="source")
        per = out.groupBy("source").agg(F.count("*").alias("n")).collect()
        assert all(r["n"] == 5 for r in per)
        # global draw (no strata)
        assert sampling.fixed_size_sample(documents, k=7, strata_col=None).count() == 7

    def test_fixed_size_global_prefilter_is_exact(self, spark):
        # the threshold-prefiltered global draw must equal the brute
        # k-smallest by (md5(id||salt), id) — exercised on a frame big
        # enough (n > 10k) to take the prefilter path
        from aws_data_wrangler_spark.operators import sampling

        big = spark.range(50_000).select(F.col("id").alias("doc_id"))
        got = sampling.fixed_size_sample(big, k=25, strata_col=None, salt="s1")
        expect = {
            r["doc_id"]
            for r in big.withColumn(
                "__o", F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("s1")))
            )
            .orderBy("__o", "doc_id")
            .limit(25)
            .collect()
        }
        assert {r["doc_id"] for r in got.collect()} == expect

    def test_deterministic_shuffle_partition_invariant(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling

        a = sampling.deterministic_shuffle(documents, num_shards=8)
        b = sampling.deterministic_shuffle(documents.repartition(13), num_shards=8)
        rows_a = {r["doc_id"]: (r["shard"], r["pos"]) for r in a.collect()}
        rows_b = {r["doc_id"]: (r["shard"], r["pos"]) for r in b.collect()}
        assert rows_a == rows_b

    def test_deterministic_shuffle_positions_dense(self, spark, documents):
        from collections import Counter

        from aws_data_wrangler_spark.operators import sampling

        out = sampling.deterministic_shuffle(documents, num_shards=4).collect()
        assert len(out) == documents.count()
        per_shard = Counter(r["shard"] for r in out)
        assert set(per_shard) <= set(range(4))
        # dense 1..n positions inside every shard
        by_shard = {}
        for r in out:
            by_shard.setdefault(r["shard"], []).append(r["pos"])
        for shard, positions in by_shard.items():
            assert sorted(positions) == list(range(1, len(positions) + 1)), shard

    def test_deterministic_shuffle_salt_reshuffles(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling

        a = sampling.deterministic_shuffle(documents, num_shards=4, salt="epoch1")
        b = sampling.deterministic_shuffle(documents, num_shards=4, salt="epoch2")
        pos_a = {r["doc_id"]: (r["shard"], r["pos"]) for r in a.collect()}
        pos_b = {r["doc_id"]: (r["shard"], r["pos"]) for r in b.collect()}
        moved = sum(1 for k in pos_a if pos_a[k] != pos_b[k])
        assert moved > len(pos_a) * 0.9

    def test_deterministic_shuffle_projection_only_without_position(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling

        out = sampling.deterministic_shuffle(documents, num_shards=8, with_position=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestDSIR:
    """DSIR importance resampling (hashed-ngram log-ratio scoring +
    deterministic Gumbel-top-k draw)."""

    B = 64

    def _lrs(self, documents):
        from aws_data_wrangler_spark.operators import sampling

        return sampling.dsir_logratios(
            sampling.dsir_bucket_counts(
                documents.filter(F.col("lang") == "en"), num_buckets=self.B
            ),
            sampling.dsir_bucket_counts(documents, num_buckets=self.B),
        )

    def test_bucket_counts_match_python_replica(self, spark, documents):
        import hashlib

        from aws_data_wrangler_spark.operators import sampling

        counts = sampling.dsir_bucket_counts(documents, num_buckets=self.B)
        assert len(counts) == self.B
        expected = [0] * self.B
        for r in documents.select("text").collect():
            toks = [t for t in r["text"].strip().lower().split() if t]
            for g in toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]:
                h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                expected[h % self.B] += 1
        assert counts == expected

    def test_bucket_count_pair_equals_two_separate_passes(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling

        tgt, raw = sampling.dsir_bucket_count_pair(
            documents, F.col("lang") == "en", num_buckets=self.B
        )
        assert tgt == sampling.dsir_bucket_counts(
            documents.filter(F.col("lang") == "en"), num_buckets=self.B
        )
        assert raw == sampling.dsir_bucket_counts(documents, num_buckets=self.B)

    def test_score_matches_python_fold_bit_for_bit(self, spark, documents):
        import hashlib

        from aws_data_wrangler_spark.operators import sampling

        lrs = self._lrs(documents)
        scored = {
            r["doc_id"]: r["dsir_score"]
            for r in sampling.dsir_score(documents, lrs)
            .select("doc_id", "dsir_score")
            .collect()
        }
        for r in documents.select("doc_id", "text").limit(20).collect():
            toks = [t for t in r["text"].strip().lower().split() if t]
            acc = 0.0
            for g in toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]:
                h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
                acc = acc + lrs[h % self.B]
            assert scored[r["doc_id"]] == acc  # identical IEEE fold

    def test_target_documents_score_higher_on_average(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling

        lrs = self._lrs(documents)
        avg = {
            r["is_en"]: r["m"]
            for r in sampling.dsir_score(documents, lrs)
            .groupBy((F.col("lang") == "en").alias("is_en"))
            .agg(F.avg("dsir_score").alias("m"))
            .collect()
        }
        # the whole point of the log-ratio: target-domain docs carry
        # more target-likely n-grams
        assert avg[True] > avg[False]

    def test_empty_text_scores_zero_and_is_kept(self, spark):
        from pyspark.sql import types as T

        from aws_data_wrangler_spark.operators import sampling

        df = spark.createDataFrame(
            [(1, "alpha beta"), (2, "   "), (3, ""), (4, None)],
            T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("text", T.StringType()),
                ]
            ),
        )
        lrs = [0.5] * self.B
        rows = {
            r["doc_id"]: r["dsir_score"]
            for r in sampling.dsir_score(df, lrs).collect()
        }
        assert rows[2] == 0.0 and rows[3] == 0.0
        assert rows[4] == 0.0  # NULL text must not produce a NULL score
        assert rows[1] == 1.5  # 2 unigrams + 1 bigram, each 0.5

    def test_resample_deterministic_without_replacement(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling

        lrs = self._lrs(documents)
        scored = sampling.dsir_score(documents, lrs)
        a = [r["doc_id"] for r in sampling.dsir_resample(scored, 25).collect()]
        b = [r["doc_id"] for r in sampling.dsir_resample(scored, 25).collect()]
        assert a == b and len(a) == 25 and len(set(a)) == 25
        # salt decorrelates the draw
        c = [
            r["doc_id"]
            for r in sampling.dsir_resample(scored, 25, salt="other").collect()
        ]
        assert c != a

    def test_scoring_is_zero_shuffle_and_resample_is_topk(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling

        lrs = self._lrs(documents)
        scored = sampling.dsir_score(documents, lrs)
        plan = scored._jdf.queryExecution().executedPlan().toString()
        # the log-ratio table must fold to a literal projection: no
        # Exchange between the scan and the score column
        assert "Exchange" not in plan
        out = sampling.dsir_resample(scored, 10)
        rplan = out._jdf.queryExecution().executedPlan().toString()
        # global top-k must be partial-per-partition, never a full sort
        assert "TakeOrderedAndProject" in rplan

    def test_logratio_validation(self, spark, documents):
        import pytest as _pytest

        from aws_data_wrangler_spark.operators import sampling

        with _pytest.raises(ValueError):
            sampling.dsir_logratios([1, 2], [1, 2, 3])
        with _pytest.raises(ValueError):
            sampling.dsir_score(documents, [])


class TestClusterBalancedSample:
    def _seeds(self, embeddings, n=8):
        from pyspark.sql import Window as W

        return (
            embeddings.orderBy("vec_id")
            .limit(n)
            .withColumn("cid", F.row_number().over(W.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )

    def test_per_cell_quota_and_determinism(self, spark, embeddings):
        from aws_data_wrangler_spark.operators import sampling

        seeds = self._seeds(embeddings)
        out = sampling.cluster_balanced_sample(
            embeddings, seeds, per_cell=3, metric="cosine"
        )
        rows = out.collect()
        per = {}
        for r in rows:
            per.setdefault(r["cid"], []).append(r["cell_rank"])
        for cid, ranks in per.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))
            assert len(ranks) <= 3
        again = sampling.cluster_balanced_sample(
            embeddings, seeds, per_cell=3, metric="cosine"
        ).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    def test_sample_is_subset_and_matches_assignment(self, spark, embeddings):
        from aws_data_wrangler_spark.operators import sampling, similarity

        seeds = self._seeds(embeddings)
        assigned = {
            r["vec_id"]: r["cid"]
            for r in similarity.assign_cells(
                embeddings, seeds, metric="cosine"
            ).collect()
        }
        out = sampling.cluster_balanced_sample(
            embeddings, seeds, per_cell=2, metric="cosine"
        ).collect()
        for r in out:
            assert assigned[r["vec_id"]] == r["cid"]

    def test_covers_more_cells_than_hash_sample_of_same_size(self, spark, embeddings):
        # the diversity claim: a balanced draw touches every nonempty
        # cell, while a same-sized uniform draw follows density
        from aws_data_wrangler_spark.operators import sampling, similarity

        seeds = self._seeds(embeddings)
        balanced = sampling.cluster_balanced_sample(
            embeddings, seeds, per_cell=1, metric="cosine"
        ).collect()
        nonempty = (
            similarity.assign_cells(embeddings, seeds, metric="cosine")
            .select("cid")
            .distinct()
            .count()
        )
        assert len(balanced) == nonempty

    def test_prefilter_identical_under_planted_skew(self, spark):
        # one giant cell (900 rows) + one tiny (8): the prefiltered
        # draw must be row-identical to the full-window draw while
        # feeding the window only ~3·per_cell rows per cell
        import random

        from aws_data_wrangler_spark.operators import sampling
        from aws_data_wrangler_spark.operators.sampling import _per_cell_hash_prefix
        from aws_data_wrangler_spark.operators.similarity import assign_cells

        rng = random.Random(7)
        rows = [(i, [10.0 + rng.random(), 0.0]) for i in range(900)]
        rows += [(1000 + i, [0.0, 10.0 + rng.random()]) for i in range(8)]
        # ONE NULL-id row in each cell type (r11 second-review finding,
        # fixed r12): the full-window draw orders NULLS FIRST, so a
        # NULL-id row always wins a rank — the prefilter must keep it
        # in the keep-all (tiny) cell AND the fractional (giant) cell
        # or prefilter=True diverges from prefilter=False
        rows += [(None, [10.5, 0.0]), (None, [0.0, 10.5])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = spark.createDataFrame(
            [(0, [10.5, 0.0]), (1, [0.0, 10.5])], "cid int, cvec array<double>"
        )
        full = sampling.cluster_balanced_sample(df, cents, per_cell=4)
        fast = sampling.cluster_balanced_sample(df, cents, per_cell=4, prefilter=True)
        got_full = sorted(map(tuple, full.collect()), key=str)
        got_fast = sorted(map(tuple, fast.collect()), key=str)
        assert got_full == got_fast
        # the NULL-id rows really are in the draw (rank 1 of each cell)
        assert [(c, r) for v, c, r in got_full if v is None] == [(0, 1), (1, 1)]
        # the prefix really shrinks the giant cell's window input
        assigned = assign_cells(df, cents, metric="l2").drop("key")
        survivors = _per_cell_hash_prefix(assigned, 4, id_col="vec_id", salt="")
        per_cell_n = {
            r["cid"]: r["n"]
            for r in survivors.groupBy("cid").agg(F.count("*").alias("n")).collect()
        }
        assert per_cell_n[1] == 9  # tiny cell: threshold saturates, keep-all
        assert 4 <= per_cell_n[0] < 100  # giant: ~12 of 900 + the NULL-id row

    def test_prefilter_refills_zero_survivor_cells(self, spark):
        # construct a cell where EVERY row fails the hash threshold
        # (all md5 prefixes above it), so the survivor table has no row
        # for that cell at all — the verify must still detect and
        # refill it (review finding: a survivors-side scan can't)
        import hashlib

        from aws_data_wrangler_spark.operators import sampling
        from aws_data_wrangler_spark.operators.sampling import _threshold_hex

        n = 50
        thr = _threshold_hex(3.0 * 1 / n)
        ids = [i for i in range(10_000) if hashlib.md5(str(i).encode()).hexdigest()[:8] >= thr][:n]
        assert len(ids) == n
        # a null-vector row (null cid through the assigner) must ride
        # through the refill rewrite untouched: NULL isin(bad) is NULL,
        # so a bare negated isin filter would silently drop it exactly
        # when a cell short-draws (ADVICE r6)
        rows = [(i, [10.0, 0.0]) for i in ids] + [(90_000, [0.0, 10.0]), (90_001, None)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cents = spark.createDataFrame(
            [(0, [10.0, 0.0]), (1, [0.0, 10.0])], "cid int, cvec array<double>"
        )
        fast = sampling.cluster_balanced_sample(df, cents, per_cell=1, prefilter=True)
        full = sampling.cluster_balanced_sample(df, cents, per_cell=1)
        got = sorted(map(tuple, fast.collect()), key=str)
        assert got == sorted(map(tuple, full.collect()), key=str)
        assert {c for _, c, _ in got} == {0, 1, None}  # starved cell back, null row kept

    def test_assignment_stays_zero_shuffle(self, spark, embeddings):
        from aws_data_wrangler_spark.operators import sampling

        seeds = self._seeds(embeddings)
        out = sampling.cluster_balanced_sample(
            embeddings, seeds, per_cell=3, metric="cosine"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # exactly the draw's cid-keyed window exchange — assignment
        # must not add its own shuffle
        assert plan.count("Exchange hashpartitioning") == 1


class TestTextPipelineOps:
    def test_canonical_url_collapses_messy_spellings(self, spark):
        # five spellings of the same page → ONE canonical key; host
        # lowercased, path case preserved; domain/registered extracted
        from aws_data_wrangler_spark.operators import text

        urls = [
            "https://www.Example.com/Articles/7",
            "HTTP://EXAMPLE.COM/Articles/7/",
            "https://example.com:443/Articles/7?utm_source=feed&id=9",
            "http://www.example.com:80/Articles/7#section-2",
            "  https://www.example.com/Articles/7/?q=1#top  ",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        out = text.with_canonical_url(df).collect()
        assert {r["canonical_url"] for r in out} == {"example.com/Articles/7"}
        assert {r["domain"] for r in out} == {"example.com"}
        assert {r["registered_domain"] for r in out} == {"example.com"}

    def test_canonical_url_domain_extraction_edges(self, spark):
        from aws_data_wrangler_spark.operators import text

        rows = {
            # subdomain → registered = last two labels
            "https://blog.acme.org/post/1": ("blog.acme.org", "acme.org"),
            # non-default port survives in canonical, stripped in domain
            "https://api.acme.org:8443/v1": ("api.acme.org", "acme.org"),
            # single-label host falls back to itself
            "http://localhost/health": ("localhost", "localhost"),
            # bare host, no path: canonical == host, no trailing slash
            "https://www.acme.org/": ("acme.org", "acme.org"),
            # scheme-less input passes through the same host rules
            "www.acme.org/x": ("acme.org", "acme.org"),
        }
        df = spark.createDataFrame([(u,) for u in rows], "url string")
        got = {r["url"]: r for r in text.with_canonical_url(df).collect()}
        for u, (dom, reg) in rows.items():
            assert got[u]["domain"] == dom, u
            assert got[u]["registered_domain"] == reg, u
        assert got["https://api.acme.org:8443/v1"]["canonical_url"] == "api.acme.org:8443/v1"
        assert got["https://www.acme.org/"]["canonical_url"] == "acme.org"

    def test_registered_domain_public_suffixes(self, spark):
        # VERDICT r9 #3: the vendored two-level public-suffix table —
        # multi-label suffixes take THREE labels, everything else the
        # r8 two-label heuristic; a host that merely ENDS with a
        # suffix's characters ("xco.uk") must not false-match
        from aws_data_wrangler_spark.operators import text
        from aws_data_wrangler_spark.operators._psl import (
            PSL2_REGEX,
            PUBLIC_SUFFIX_2LEVEL,
        )

        rows = {
            "https://news.example.co.uk/a": "example.co.uk",
            "https://www.shop.example.com.au:443/x/": "example.com.au",
            "http://a.b.gov.uk/z": "b.gov.uk",
            # bare registrable name under a public suffix: unchanged
            "https://example.co.jp": "example.co.jp",
            # looks-like but isn't: one label, no suffix dot alignment
            "https://xco.uk/p": "xco.uk",
            # host IS the public suffix: documented fallback (last two)
            "http://co.uk/": "co.uk",
            # ordinary gTLD host unaffected by the PSL path
            "https://blog.example.com/": "example.com",
        }
        df = spark.createDataFrame([(u,) for u in rows], "url string")
        got = {r["url"]: r["registered_domain"]
               for r in text.with_canonical_url(df).collect()}
        for u, reg in rows.items():
            assert got[u] == reg, (u, got[u])
        # table sanity: two-label entries only, and the regex embeds
        # every entry exactly once (the one-source-of-truth contract
        # the oracle fragment relies on)
        assert all(s.count(".") == 1 and s == s.lower()
                   for s in PUBLIC_SUFFIX_2LEVEL)
        assert all(s.replace(".", "\\.") in PSL2_REGEX
                   for s in PUBLIC_SUFFIX_2LEVEL)

    def test_canonical_url_is_zero_shuffle(self, spark):
        from aws_data_wrangler_spark.operators import text

        df = spark.createDataFrame([("https://a.com/x",)], "url string")
        plan = text.with_canonical_url(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Generate" not in plan

    def test_scrub_pii_planted(self, spark):
        df = spark.createDataFrame(
            [(1, "mail bob@corp.io or call 555-123-4567 from 192.168.0.1 ok")],
            "doc_id long, text string",
        )
        row = text.scrub_pii(df).collect()[0]
        assert (row["n_emails"], row["n_phones"], row["n_ips"]) == (1, 1, 1)
        assert row["redacted_text"] == "mail [EMAIL] or call [PHONE] from [IP] ok"

    def test_scrub_pii_clean_text_untouched(self, spark):
        df = spark.createDataFrame([(1, "no pii here at all")], "doc_id long, text string")
        row = text.scrub_pii(df).collect()[0]
        assert row["redacted_text"] == "no pii here at all"
        assert row["n_emails"] == row["n_phones"] == row["n_ips"] == 0

    def test_strip_html_extracts_visible_text(self, spark):
        html = (
            "<!DOCTYPE html><html><head><title>T</title>"
            "<style type='text/css'>body { color: red; }</style>"
            "<SCRIPT src='x.js'>var hidden = 1;</SCRIPT></head>"
            "<body><!-- note --><h1>Hello</h1>\n<p>A &amp; B &lt;ok&gt;</p></body></html>"
        )
        row = text.strip_html(
            spark.createDataFrame([(1, html)], "doc_id long, text string")
        ).collect()[0]
        # script/style CONTENT and comments are gone, tags stripped,
        # entities decoded, whitespace collapsed
        assert row["clean_text"] == "T Hello A & B <ok>"
        assert row["n_html_tags"] > 0

    def test_strip_html_plain_text_unchanged(self, spark):
        df = spark.createDataFrame(
            [(1, "just words, 2 < 3 is fine")], "doc_id long, text string"
        )
        row = text.strip_html(df).collect()[0]
        # a bare '<' never forms a tag match ('<[^>]*>' needs a '>'),
        # so plain prose with comparisons survives verbatim
        assert row["clean_text"] == "just words, 2 < 3 is fine"
        assert row["n_html_tags"] == 0

    def test_strip_html_amp_decodes_last(self, spark):
        row = text.strip_html(
            spark.createDataFrame([(1, "x &amp;lt; y")], "doc_id long, text string")
        ).collect()[0]
        # double-encoded entities decode exactly one level
        assert row["clean_text"] == "x &lt; y"

    @staticmethod
    def _brute_top_ngram_cov(doc: str, n: int) -> float:
        from collections import Counter

        toks = doc.split()
        if len(toks) < n:
            return 0.0
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        counts = Counter(grams)
        # ties → lexicographically smallest gram
        top_cnt = max(counts.values())
        best_gram = min(g for g, c in counts.items() if c == top_cnt)
        cov = counts[best_gram] * len(best_gram) / len(" ".join(toks))
        import math

        return math.floor(cov * 1e6) / 1e6

    @staticmethod
    def _brute_dup_ngram_frac(doc: str, n: int) -> float:
        from collections import Counter

        toks = doc.split()
        if len(toks) < n:
            return 0.0
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        counts = Counter(grams)
        # char offsets of each token in the normalized (single-space) text
        starts, off = [], 0
        for t in toks:
            starts.append(off)
            off += len(t) + 1
        covered = set()
        for i, g in enumerate(grams):
            if counts[g] >= 2:
                covered.update(range(starts[i], starts[i] + len(g)))
        import math

        return math.floor(len(covered) / len(" ".join(toks)) * 1e6) / 1e6

    def test_top_ngram_coverage_vs_brute_force(self, spark):
        docs = [
            (1, "spam spam spam spam spam"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "a b a b a b c d e f"),
            (4, "one"),  # fewer than n tokens → 0.0
            (5, "x y x y x y x y z z z z buy now buy now buy now"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r["doc_id"]: r["top_2gram_cov"] for r in text.with_top_ngram_coverage(df, n=2).collect()}
        for doc_id, t in docs:
            assert out[doc_id] == self._brute_top_ngram_cov(t, 2), (doc_id, t)

    def test_dup_ngram_fraction_vs_brute_force(self, spark):
        docs = [
            (1, "a b c d e a b c d e a b c d e"),       # heavy repetition
            (2, "the quick brown fox jumps over the lazy dog today"),  # none
            (3, "p q r s t u p q r s t u"),
            (4, "short doc"),                            # fewer than n tokens
            (5, " ".join(["w"] * 30)),                   # total overlap
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r["doc_id"]: r["dup_5gram_frac"] for r in text.with_dup_ngram_fraction(df, n=5).collect()}
        for doc_id, t in docs:
            assert out[doc_id] == self._brute_dup_ngram_frac(t, 5), (doc_id, t)

    def test_bigram_surprisal_hand_computed(self, spark):
        import math

        docs = [(1, "a b a b"), (2, "a b c")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r["doc_id"]: r for r in text.bigram_surprisal(df, lambda_bigram=0.7).collect()}
        # corpus: uni a:3 b:3 c:1 N=7; bi (a,b):3 (b,a):1 (b,c):1; ctx a:3 b:2
        lam, N = 0.7, 7.0
        lp_first_a = -math.log(3 / N)
        lp_ab = -math.log(lam * (3 / 3) + (1 - lam) * (3 / N))
        lp_ba = -math.log(lam * (1 / 2) + (1 - lam) * (3 / N))
        lp_bc = -math.log(lam * (1 / 2) + (1 - lam) * (1 / N))

        def tr(x):
            return math.floor(x * 1e6) / 1e6

        exp1 = tr((lp_first_a + lp_ab + lp_ba + lp_ab) / 4)
        exp2 = tr((lp_first_a + lp_ab + lp_bc) / 3)
        assert out[1]["n_toks"] == 4 and out[1]["avg_surprisal"] == exp1
        assert out[2]["n_toks"] == 3 and out[2]["avg_surprisal"] == exp2

    def test_bigram_surprisal_lambda_zero_is_unigram(self, spark, documents):
        uni = {r["doc_id"]: r["avg_surprisal"] for r in text.unigram_surprisal(documents).collect()}
        bi = {
            r["doc_id"]: r["avg_surprisal"]
            for r in text.bigram_surprisal(documents, lambda_bigram=0.0).collect()
        }
        # λ=0 interpolates down to the pure unigram model; both fold in
        # position order, so values agree to float noise at the 6dp grid
        assert uni.keys() == bi.keys()
        close = sum(1 for k in uni if abs(uni[k] - bi[k]) <= 1e-6)
        assert close == len(uni), (len(uni), close)

    def test_bigram_surprisal_rejects_bad_lambda(self, spark, documents):
        import pytest as _pytest

        with _pytest.raises(ValueError, match="lambda_bigram"):
            text.bigram_surprisal(documents, lambda_bigram=1.5)

    def test_gopher_repetition_gate(self, spark):
        spam = " ".join(["buy now"] * 40)                     # top-2gram cov >> 0.20
        loop = " ".join(["a b c d e f"] * 10)                 # dup-6gram frac >> 0.14
        clean = (
            "the quick brown fox jumps over one lazy dog while seven other "
            "animals watch from beyond a tall green hill near two rivers"
        )
        df = spark.createDataFrame(
            [(1, spam), (2, loop), (3, clean)], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r for r in text.with_gopher_repetition_gate(df).collect()}
        assert not rows[1]["gopher_repetition_keep"]
        assert not rows[2]["gopher_repetition_keep"]
        assert rows[3]["gopher_repetition_keep"]
        # all nine rule columns materialize
        cols = set(rows[3].asDict())
        assert {f"top_{n}gram_cov" for n in (2, 3, 4)} <= cols
        assert {f"dup_{n}gram_frac" for n in range(5, 11)} <= cols

    def test_ngram_repetition_on_corpus_bounds(self, spark, documents):
        out = text.with_dup_ngram_fraction(
            text.with_top_ngram_coverage(documents, n=3), n=6
        ).collect()
        assert len(out) == documents.count()
        for r in out:
            assert 0.0 <= r["dup_6gram_frac"] <= 1.0
            assert r["top_3gram_cov"] >= 0.0

    def test_c4_flags_line_and_page_rules(self, spark):
        good = "\n".join(
            [
                "The first proper sentence is here.",
                "Another well formed sentence follows!",
                "Is this a question sentence?",
                "A fourth sentence ends with a period.",
                "And a fifth sentence completes the page.",
                "no terminal punctuation on this line",
                "Too short.",
                "This line mentions JavaScript sadly.",
            ]
        )
        lorem = good + "\nSome Lorem Ipsum filler text here."
        curly = good + "\nA line with { braces } inside."
        thin = "Only one sentence is here."
        df = spark.createDataFrame(
            [(1, good), (2, lorem), (3, curly), (4, thin)], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r for r in text.with_c4_flags(df).collect()}
        r1 = rows[1]
        kept = r1["clean_text"].split("\n")
        assert r1["c4_n_lines"] == 8 and r1["c4_n_kept_lines"] == 5
        assert "no terminal punctuation on this line" not in kept  # punct rule
        assert "Too short." not in kept                            # min-words rule
        assert all("JavaScript" not in l for l in kept)            # line blocklist
        assert r1["c4_n_sentences"] == 5 and r1["c4_keep"]
        assert not rows[2]["c4_keep"]  # lorem ipsum page rule
        assert not rows[3]["c4_keep"]  # curly-brace page rule
        assert not rows[4]["c4_keep"]  # < 5 sentences
        # page rules flag but never mutate the cleaned text
        assert rows[3]["clean_text"].endswith("A line with { braces } inside.")

    def test_perplexity_buckets_terciles_and_order(self, spark, documents):
        out = text.perplexity_buckets(documents).cache()
        rows = out.collect()
        assert len(rows) == documents.count()
        by_lang = {}
        for r in rows:
            by_lang.setdefault(r["lang"], []).append(r)
        for lang, rs in by_lang.items():
            buckets = {"head": [], "middle": [], "tail": []}
            for r in rs:
                buckets[r["ppl_bucket"]].append(r["avg_surprisal"])
            # ordering: every head score <= every middle <= every tail
            if buckets["head"] and buckets["middle"]:
                assert max(buckets["head"]) <= min(buckets["middle"])
            if buckets["middle"] and buckets["tail"]:
                assert max(buckets["middle"]) <= min(buckets["tail"])
            # terciles: roughly a third per bucket (ties can shift a few)
            n = len(rs)
            for vals in buckets.values():
                assert len(vals) <= n * 0.45 + 2, (lang, {k: len(v) for k, v in buckets.items()})
        out.unpersist()
        with pytest.raises(ValueError, match="splits"):
            text.perplexity_buckets(documents, splits=(0.7, 0.3))

    def test_tfidf_rare_term_wins(self, spark):
        # 'zebra' appears in 1 of 3 docs → highest idf for doc 1
        df = spark.createDataFrame(
            [(1, "common zebra common"), (2, "common word word"), (3, "common word common")],
            "doc_id long, text string",
        )
        top = text.tfidf_top_terms(df, k=1).collect()
        by_doc = {r["doc_id"]: r["term"] for r in top}
        assert by_doc[1] == "zebra"
        for r in top:
            assert r["rank"] == 1

    def test_benchmark_contamination_self_overlap(self, spark, documents):
        # eval set drawn from the corpus itself → those exact docs are
        # 100% contaminated when left in train
        eval_set = documents.filter(F.col("doc_id") < 5)
        out = text.benchmark_contamination(documents, eval_set, n=5)
        rows = {r["doc_id"]: r for r in out.collect()}
        for i in range(5):
            assert rows[i]["contamination_frac"] == 1.0
        # and docs sharing no 5-gram with the eval docs score 0
        assert any(r["contamination_frac"] == 0.0 for r in rows.values())

    def test_remove_contaminated_spans_excises_planted_quote(self, spark):
        # VERDICT r9 #2: the excision rung — a planted eval quote is
        # surgically removed, surrounding prose survives, and an
        # untouched doc's text is BYTE-preserved (including its weird
        # whitespace)
        quote = "the quick brown fox jumps over the lazy dog"  # 9 tokens
        train = spark.createDataFrame(
            [
                (1, f"intro words here {quote} and the page goes on afterwards"),
                (2, "totally unrelated page with  double  spaces preserved"),
            ],
            "doc_id long, text string",
        )
        eval_set = spark.createDataFrame([(100, quote)], "doc_id long, text string")
        out = {r["doc_id"]: r for r in
               text.remove_contaminated_spans(train, eval_set, n=5).collect()}
        # doc 1: the 9 quote tokens form 5 hit 5-grams merging into ONE
        # maximal span; intro + tail prose survive re-joined by spaces
        assert out[1]["clean_text"] == "intro words here and the page goes on afterwards"
        assert out[1]["n_spans_removed"] == 1
        assert out[1]["n_tokens_removed"] == 9
        assert out[1]["total_tokens"] == 3 + 9 + 6
        # doc 2: no hit → byte-preserved, double spaces and all
        assert out[2]["clean_text"] == "totally unrelated page with  double  spaces preserved"
        assert (out[2]["n_spans_removed"], out[2]["n_tokens_removed"]) == (0, 0)

    def test_remove_contaminated_spans_edges(self, spark):
        # two disjoint quotes → two maximal spans; a fully-contaminated
        # doc excises to the empty string; short (< n tokens) and empty
        # docs pass through untouched
        q1 = "alpha beta gamma delta epsilon"          # 5 tokens
        q2 = "one two three four five"                 # 5 tokens
        train = spark.createDataFrame(
            [
                (1, f"{q1} middle filler words here {q2} tail"),
                (2, q1),                      # the whole doc IS the quote
                (3, "tiny doc"),              # < n tokens: no grams
                (4, "   "),                   # empty after trim
            ],
            "doc_id long, text string",
        )
        eval_set = spark.createDataFrame(
            [(100, q1), (101, q2)], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in
               text.remove_contaminated_spans(train, eval_set, n=5).collect()}
        assert out[1]["clean_text"] == "middle filler words here tail"
        assert out[1]["n_spans_removed"] == 2
        assert out[1]["n_tokens_removed"] == 10
        assert out[2]["clean_text"] == "" and out[2]["n_spans_removed"] == 1
        assert out[2]["n_tokens_removed"] == 5 and out[2]["total_tokens"] == 5
        assert out[3]["clean_text"] == "tiny doc" and out[3]["n_tokens_removed"] == 0
        assert out[4]["clean_text"] == "   " and out[4]["total_tokens"] == 0

    def test_remove_contaminated_spans_broadcasts_eval_set(self, spark, documents):
        # the corpus (100 TB side) must never shuffle for the probe —
        # the eval n-gram set is the broadcast side (the
        # benchmark_contamination plan contract)
        out = text.remove_contaminated_spans(
            documents.filter(F.col("doc_id") % 50 != 0),
            documents.filter(F.col("doc_id") % 50 == 0),
            n=5,
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
        assert "CartesianProduct" not in plan

    def test_benchmark_near_contamination_empty_eval_is_clean(self, spark):
        # day-zero decontamination (no eval set yet) must return an
        # empty pair table, not crash in the bipartite machinery
        train = spark.createDataFrame(
            [(1, "some training text with several words here")],
            "doc_id long, text string",
        )
        empty = spark.createDataFrame([], "doc_id long, text string")
        assert text.benchmark_near_contamination(train, empty).count() == 0

    def test_benchmark_near_contamination_flags_paraphrase(self, spark):
        # a lightly-rewritten eval item (one token dropped) slips past
        # exact overlap semantics but must be flagged by the fuzzy
        # detector; an unrelated doc must not pair with anything
        words = " ".join(f"w{i}" for i in range(40))
        train = spark.createDataFrame(
            [(1, words), (2, "completely different vocabulary in this one text")],
            "doc_id long, text string",
        )
        eval_set = spark.createDataFrame(
            [(100, " ".join(f"w{i}" for i in range(1, 40)))],  # first token dropped
            "doc_id long, text string",
        )
        rows = text.benchmark_near_contamination(
            train, eval_set, threshold=0.8
        ).collect()
        assert [(r["train_id"], r["eval_id"]) for r in rows] == [(1, 100)]
        # 3-gram sets: 38 vs 37 shingles, 37 common → j = 37/38,
        # 6dp floor-truncated (the verify's trunc_digits convention)
        import math as _math

        assert rows[0]["jaccard"] == _math.floor(37 / 38 * 1e6) / 1e6
        # the exact probe at its default n=5 ALSO sees this pair (the
        # grams past the dropped token survive) — the fuzzy rung's
        # value is the document-level verdict + score, tested above
        # corpus_state reuse (the dedup pipeline's persisted artifact):
        # identical pairs with the train text never re-shingled
        from aws_data_wrangler_spark.operators import dedup

        state = dedup.minhash_corpus_state(train)
        via_state = text.benchmark_near_contamination(
            train, eval_set, threshold=0.8, corpus_state=state
        ).collect()
        assert sorted(map(tuple, via_state)) == sorted(map(tuple, rows))


class TestTimeseries:
    def test_mad_anomalies_flags_planted_spike(self, spark):
        import math

        from aws_data_wrangler_spark.operators import timeseries

        # key "a": 11 quiet hours of 10 events + one hour of 100 —
        # median 10, MAD 0? no: counts [10×11, 100] → med 10, adevs
        # [0×11, 90] → MAD 0... so vary quiet hours 9..11 for MAD 1
        rows = []
        for h in range(12):
            n = [9, 10, 11][h % 3] if h < 11 else 100
            rows += [("a", h * 3600)] * n
        # key "b": perfectly constant → MAD 0 → no flags by contract
        for h in range(12):
            rows += [("b", h * 3600)] * 5
        df = spark.createDataFrame(rows, "event_type string, sec long").select(
            "event_type", F.timestamp_seconds("sec").alias("ts")
        )
        out = timeseries.mad_anomalies(df, threshold=3.5).collect()
        assert {r["event_type"] for r in out} == {"a"}
        spike = [r for r in out if r["n"] == 100]
        assert len(spike) == 1
        r = spike[0]
        assert r["med"] == 10.0 and r["mad"] == 1.0
        assert r["score"] == math.floor(0.6745 * 90 * 1e6) / 1e6
        # the quiet hours are NOT flagged (robustness: the spike did
        # not drag the center the way a mean/stddev rule would)
        assert len(out) == 1

    def test_mad_anomalies_seasonal_unflag_cyclic_peaks(self, spark):
        from aws_data_wrangler_spark.operators import timeseries

        # 4 days of hourly traffic: hour 9 always carries 50 events,
        # other hours ~5 (±1 for nonzero MAD); day 3's hour 9 carries
        # 500 — a REAL anomaly. Global center flags every hour-9 peak;
        # the seasonal detector flags only the true spike.
        rows = []
        for day in range(4):
            for h in range(24):
                if h == 9:
                    n = 500 if day == 3 else 50 + (day % 2)
                else:
                    n = 5 + ((day + h) % 3)
                rows += [("a", (day * 24 + h) * 3600)] * n
        df = spark.createDataFrame(rows, "event_type string, sec long").select(
            "event_type", F.timestamp_seconds("sec").alias("ts")
        )
        seasonal = timeseries.mad_anomalies(df, seasonal="hour_of_day").collect()
        assert [r["n"] for r in seasonal] == [500]
        glob = timeseries.mad_anomalies(df).collect()
        # the global detector cannot help flagging the ordinary peaks
        assert len(glob) >= 4
        import pytest as _pytest

        with _pytest.raises(ValueError, match="seasonal"):
            timeseries.mad_anomalies(df, seasonal="weekly")

    def test_mad_anomalies_respects_key_col(self, spark):
        from aws_data_wrangler_spark.operators import timeseries

        rows = []
        for h in range(12):
            n = [9, 10, 11][h % 3] if h < 11 else 100
            rows += [(7, h * 3600)] * n
        df = spark.createDataFrame(rows, "user_id long, sec long").select(
            "user_id", F.timestamp_seconds("sec").alias("ts")
        )
        out = timeseries.mad_anomalies(df, key_col="user_id").collect()
        assert len(out) == 1 and out[0]["user_id"] == 7

    def test_interpolate_linear_hand_values(self, spark):
        from aws_data_wrangler_spark.operators import timeseries

        # key "a": observed at hours 0 (10.0) and 3 (40.0) — hours 1, 2
        # interpolate to 20, 30; key "b": single bucket, nothing to fill
        df = spark.createDataFrame(
            [("a", 0, 10.0), ("a", 3 * 3600, 40.0), ("b", 3600, 5.0)],
            "event_type string, sec long, value double",
        ).select("event_type", F.timestamp_seconds("sec").alias("ts"), "value")
        out = timeseries.interpolate_linear(df).orderBy(
            "event_type", "bucket_ts"
        ).collect()
        a = [r for r in out if r["event_type"] == "a"]
        assert [r["n_events"] for r in a] == [1, 0, 0, 1]
        assert [r["interp_avg"] for r in a] == [10.0, 20.0, 30.0, 40.0]
        b = [r for r in out if r["event_type"] == "b"]
        assert len(b) == 1 and b[0]["interp_avg"] == 5.0
        # a leading gap has no left neighbor: spine starts at the first
        # OBSERVED bucket, so nulls can only arise from one-sided gaps —
        # construct one by unioning a key with a single trailing point
        # after an empty stretch; the spine is [min, max] per key so the
        # empty stretch interpolates, never extrapolates
        assert all(r["interp_avg"] is not None for r in out)

    def test_ewma_matches_hand_fold(self, spark):
        # hand-computed chronological fold: s_1 = n_1,
        # s_t = 0.25·n_t + 0.75·s_{t−1} — including a key whose rows
        # arrive out of order (the array_sort must impose chronology)
        import math

        from aws_data_wrangler_spark.operators import timeseries

        rows = []
        for h, n in [(2, 4), (0, 8), (1, 2), (3, 16)]:  # shuffled hours
            rows += [("a", h * 3600)] * n
        rows += [("b", 0)] * 5  # single bucket: ewma == its own count
        df = spark.createDataFrame(rows, "event_type string, sec long").select(
            "event_type", F.timestamp_seconds("sec").alias("ts")
        )
        out = {r["event_type"]: r for r in timeseries.ewma(df, alpha=0.25).collect()}
        s = 8.0
        for n in [2.0, 4.0, 16.0]:
            s = s * 0.75 + n * 0.25
        want = math.floor(s * 1e6) / 1e6
        assert out["a"]["ewma"] == want and out["a"]["n_buckets"] == 4
        assert out["b"]["ewma"] == 5.0 and out["b"]["n_buckets"] == 1
        assert out["a"]["last_bucket_ts"].endswith("03:00:00")
        # a non-dyadic alpha still folds correctly (just not guaranteed
        # cross-engine bit-identical — the registry pins alpha=0.25)
        out2 = {r["event_type"]: r for r in timeseries.ewma(df, alpha=0.3).collect()}
        s = 8.0
        for n in [2.0, 4.0, 16.0]:
            s = s * 0.7 + n * 0.3
        assert abs(out2["a"]["ewma"] - s) < 1e-6

    def test_holt_matches_hand_fold_and_beats_ewma_on_ramps(self, spark):
        # hand-computed [level, trend] fold (the algebraically-expanded
        # update: l' = 0.25n + 0.75(l+b); b' = 0.0625(n−l) + 0.9375b),
        # shuffled input hours (array_sort imposes chronology), a
        # single-bucket key (level = count, trend = 0), and the
        # raison d'être: on a pure linear ramp Holt's forecast_next is
        # closer to the true next value than the EWMA level, which
        # lags ramps by construction
        import math

        from aws_data_wrangler_spark.operators import timeseries

        rows = []
        for h, n in [(2, 4), (0, 8), (1, 2), (3, 16)]:
            rows += [("a", h * 3600)] * n
        rows += [("b", 0)] * 5
        # key "r": linear ramp 2,4,6,...,16 — true next value 18
        for h in range(8):
            rows += [("r", h * 3600)] * (2 * (h + 1))
        df = spark.createDataFrame(rows, "event_type string, sec long").select(
            "event_type", F.timestamp_seconds("sec").alias("ts")
        )
        out = {
            r["event_type"]: r
            for r in timeseries.holt_linear(df, alpha=0.25, beta=0.25).collect()
        }
        l, b = 8.0, 0.0
        for n in [2.0, 4.0, 16.0]:
            l, b = n * 0.25 + (l + b) * 0.75, (n - l) * 0.0625 + b * 0.9375
        assert out["a"]["level"] == math.floor(l * 1e6) / 1e6
        assert out["a"]["trend"] == math.floor(b * 1e6) / 1e6
        assert out["a"]["forecast_next"] == math.floor((l + b) * 1e6) / 1e6
        assert out["b"] ["level"] == 5.0 and out["b"]["trend"] == 0.0
        assert out["b"]["forecast_next"] == 5.0
        assert out["r"]["trend"] > 0.5  # the ramp is seen as a ramp
        ew = {
            r["event_type"]: r["ewma"]
            for r in timeseries.ewma(df, alpha=0.25).collect()
        }
        assert abs(out["r"]["forecast_next"] - 18.0) < abs(ew["r"] - 18.0)

    def test_holt_winters_learns_seasonality_holt_cannot(self, spark):
        # the HW raison d'être: on a strictly periodic series (period
        # 4, repeating 10,2,10,2...) the seasonal forecast_next nails
        # the true next value while season-blind Holt forecasts near
        # the mean; season_range reads the learned amplitude; a
        # constant series yields season_range ~ 0 and forecast = the
        # constant; period < 2 raises
        import math

        import pytest as _pytest

        from aws_data_wrangler_spark.operators import timeseries

        rows = []
        cycle = [10, 2, 10, 2]
        for h in range(40):  # 10 full cycles
            rows += [("p", h * 3600)] * cycle[h % 4]
        for h in range(12):  # constant key: 5 events every hour
            rows += [("c", h * 3600)] * 5
        df = spark.createDataFrame(rows, "event_type string, sec long").select(
            "event_type", F.timestamp_seconds("sec").alias("ts")
        )
        out = {
            r["event_type"]: r
            for r in timeseries.holt_winters(df, period=4).collect()
        }
        # true next value (h=40, slot 0) is 10
        assert abs(out["p"]["forecast_next"] - 10.0) < 1.5
        hl = {
            r["event_type"]: r
            for r in timeseries.holt_linear(df).collect()
        }
        assert abs(hl["p"]["forecast_next"] - 10.0) > abs(
            out["p"]["forecast_next"] - 10.0
        )  # season-blind Holt is strictly worse on the periodic key
        assert out["p"]["season_range"] > 4.0  # planted amplitude 8
        assert out["c"]["season_range"] < 1e-6
        assert abs(out["c"]["forecast_next"] - 5.0) < 1e-6
        with _pytest.raises(ValueError, match="period"):
            timeseries.holt_winters_from_counts(
                spark.createDataFrame(
                    [("k", "2024-01-01 00:00:00", 1)],
                    "key string, bucket_ts string, n long",
                ),
                period=1,
                key_col="key",
            )

    def test_holt_winters_spine_zero_fills_gaps(self, spark):
        # a gappy input (hours with zero events emit no rows) must fold
        # identically to the explicit zero-dense series — the wrapper's
        # spine is the gapfill_rollup convention
        from aws_data_wrangler_spark.operators import timeseries

        dense_series = [4, 0, 0, 6, 0, 2, 0, 0, 0, 8]
        rows = []
        for h, n in enumerate(dense_series):
            rows += [("k", h * 3600)] * n  # zero hours vanish
        df = spark.createDataFrame(rows, "event_type string, sec long").select(
            "event_type", F.timestamp_seconds("sec").alias("ts")
        )
        out = timeseries.holt_winters(df, period=3).collect()[0]
        assert out["n_buckets"] == len(dense_series)  # spine re-densified
        # bucket casing follows date_trunc (case-insensitive), and an
        # unknown bucket with no explicit step raises instead of
        # silently desyncing the seasonal fold
        upper = timeseries.holt_winters(df, period=3, bucket="HOUR").collect()[0]
        assert upper["level"] == out["level"]
        import pytest as _pytest

        with _pytest.raises(ValueError, match="spine step"):
            timeseries.holt_winters(df, period=3, bucket="quarter")
        explicit = spark.createDataFrame(
            [("k", f"2024-01-01 {h:02d}:00:00", n) for h, n in enumerate(dense_series)],
            "key string, bucket_ts string, n long",
        )
        via_counts = timeseries.holt_winters_from_counts(
            explicit, period=3, key_col="key"
        ).collect()[0]
        for col in ("level", "trend", "forecast_next", "season_range"):
            assert out[col] == via_counts[col]

    def test_dense_counts_accepts_a_named_key_column(self, spark):
        # ADVICE r11: composing holt_winters_from_counts(dense_counts(
        # counts, key_col=k), key_col=k) over an event_type-keyed table
        # raised instead of resolving — dense_counts now takes key_col
        # (the *_from_counts rule) and keeps the caller's name
        import pytest as _pytest

        from aws_data_wrangler_spark.operators import timeseries

        gappy = spark.createDataFrame(
            [("a", "2024-01-01 00:00:00", 4), ("a", "2024-01-01 03:00:00", 6)],
            "event_type string, bucket_ts string, n long",
        ).select("event_type", F.col("bucket_ts").cast("timestamp"), "n")
        dense = timeseries.dense_counts(gappy, key_col="event_type")
        assert dense.columns == ["event_type", "bucket_ts", "n"]
        got = {
            (r["event_type"], r["bucket_ts"].hour): r["n"] for r in dense.collect()
        }
        assert got == {("a", 0): 4, ("a", 1): 0, ("a", 2): 0, ("a", 3): 6}
        # the named composition the advice cites folds end-to-end, and
        # equals the generic-'key' path term-for-term
        named = timeseries.holt_winters_from_counts(
            dense, period=2, key_col="event_type"
        ).collect()[0]
        generic = timeseries.holt_winters_from_counts(
            timeseries.dense_counts(
                gappy.withColumnRenamed("event_type", "key")
            ),
            period=2,
            key_col="missing",  # falls back to the generic 'key'
        ).collect()[0]
        for col in ("level", "trend", "forecast_next", "season_range"):
            assert named[col] == generic[col]
        # the _fold_counts fallback (r12 review): a generic-'key' table
        # resolves under any key_col instead of raising, and keeps its
        # own name; a table with NEITHER name still raises
        fallback = timeseries.dense_counts(
            gappy.withColumnRenamed("event_type", "key"), key_col="event_type"
        )
        assert fallback.columns == ["key", "bucket_ts", "n"]
        assert fallback.count() == 4
        with _pytest.raises(ValueError, match="key column"):
            timeseries.dense_counts(
                gappy.withColumnRenamed("event_type", "typ"), key_col="nope"
            )

    def test_ewma_from_counts_key_col_applies_to_input(self, spark):
        # ADVICE r8: key_col must resolve the INPUT key too — a caller
        # handing their own counts table keyed by event_type (not the
        # internal generic "key") gets the fold, not an
        # unresolved-column error; the generic "key" name still works
        import pytest as _pytest

        from aws_data_wrangler_spark.operators import timeseries

        counts = spark.createDataFrame(
            [("a", 0, 8), ("a", 3600, 2), ("b", 0, 5)],
            "event_type string, sec long, n long",
        ).select(
            "event_type", F.timestamp_seconds("sec").alias("bucket_ts"), "n"
        )
        out = {
            r["event_type"]: r
            for r in timeseries.ewma_from_counts(counts, alpha=0.25).collect()
        }
        assert out["a"]["ewma"] == 8.0 * 0.75 + 2.0 * 0.25
        assert out["b"]["ewma"] == 5.0
        # generic "key" input is accepted unchanged (the internal
        # producers' contract) and only renamed on output
        generic = counts.withColumnRenamed("event_type", "key")
        out2 = {
            r["event_type"]: r
            for r in timeseries.ewma_from_counts(generic, alpha=0.25).collect()
        }
        assert out2 == out
        # neither name present → a clear contract error, not a Spark
        # unresolved-column stack
        with _pytest.raises(ValueError, match="key column"):
            timeseries.ewma_from_counts(
                counts.withColumnRenamed("event_type", "wrong"), alpha=0.25
            )

    def test_gapfill_fills_missing_buckets(self, spark):
        from aws_data_wrangler_spark.operators import timeseries

        df = spark.createDataFrame(
            [("a", 0, 10.0), ("a", 3 * 3600, 20.0), ("b", 3600, 5.0)],
            "event_type string, sec long, value double",
        ).select("event_type", F.timestamp_seconds("sec").alias("ts"), "value")
        out = timeseries.gapfill_rollup(df).orderBy("event_type", "bucket_ts").collect()
        a_rows = [r for r in out if r["event_type"] == "a"]
        # hours 0..3 all present, gap hours zero-count with carried avg
        assert len(a_rows) == 4
        assert [r["n_events"] for r in a_rows] == [1, 0, 0, 1]
        assert [r["filled_avg"] for r in a_rows] == [10.0, 10.0, 10.0, 20.0]
        b_rows = [r for r in out if r["event_type"] == "b"]
        assert len(b_rows) == 1 and b_rows[0]["filled_avg"] == 5.0


class TestBPE:
    def test_train_bpe_matches_hand_computed_merges(self, spark):
        # classic Sennrich example shape: 'low'x5 'lower'x2 'newest'x6
        # 'widest'x3 — first merges are the highest-frequency adjacent
        # pairs over the weighted word table
        from aws_data_wrangler_spark.operators import bpe

        text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        merges = bpe.train_bpe(docs, num_merges=4)
        # reference implementation on the same word counts
        words = {
            tuple("low") + (bpe.EOW,): 5,
            tuple("lower") + (bpe.EOW,): 2,
            tuple("newest") + (bpe.EOW,): 6,
            tuple("widest") + (bpe.EOW,): 3,
        }
        expected = []
        for _ in range(4):
            counts = {}
            for syms, f in words.items():
                for pair in zip(syms, syms[1:]):
                    counts[pair] = counts.get(pair, 0) + f
            top = max(counts.values())
            pair = min(p for p, c in counts.items() if c == top)
            expected.append(pair)
            words = {bpe._merge_pair(s, pair): f for s, f in words.items()}
        assert merges == expected

    def test_apply_bpe_reconstructs_words(self, spark, documents):
        # lossless property: concatenating a word's subwords (minus the
        # EOW marker) reconstructs the word, for every doc
        from aws_data_wrangler_spark.operators import bpe

        docs = documents.limit(30)
        merges = bpe.train_bpe(docs, num_merges=40)
        encoded = bpe.apply_bpe(docs, merges)
        joined = {r["doc_id"]: r["bpe_tokens"] for r in encoded.collect()}
        for r in docs.select("doc_id", "text").collect():
            toks = joined[r["doc_id"]]
            rebuilt = "".join(toks).replace(bpe.EOW, " ").strip()
            assert rebuilt == " ".join(r["text"].strip().lower().split())

    def test_merges_compress_token_count(self, spark, documents):
        # more merges => fewer subword tokens, floored at word count
        from aws_data_wrangler_spark.operators import bpe

        docs = documents.limit(40)
        none = bpe.apply_bpe(docs, [])
        some = bpe.apply_bpe(docs, bpe.train_bpe(docs, num_merges=60))
        n0 = none.agg(F.sum("n_bpe_tokens")).first()[0]
        n1 = some.agg(F.sum("n_bpe_tokens")).first()[0]
        assert n1 < n0

    def test_vocab_guard_raises_with_guidance(self, spark, documents):
        from aws_data_wrangler_spark.operators import bpe

        with pytest.raises(ValueError, match="min_frequency"):
            bpe.train_bpe(documents.limit(50), num_merges=2, max_vocab_rows=5)

    def test_bpe_token_count_is_a_passthrough_column(self, spark, documents):
        # the sampling-weld variant (VERDICT r10 #5): every input
        # column and row preserved, the count column equal to
        # apply_bpe's n_bpe_tokens doc-for-doc, and the plan shuffle-free
        from aws_data_wrangler_spark.operators import bpe

        docs = documents.limit(30)
        merges = bpe.train_bpe(docs, num_merges=40)
        counted = bpe.bpe_token_count(docs, merges)
        assert counted.columns == docs.columns + ["n_bpe_tokens"]
        assert counted.count() == docs.count()
        # shuffle-free as a column operator (the limit(30) above adds
        # its own exchange, so audit the plan over the raw frame)
        plan = (
            bpe.bpe_token_count(documents, merges)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        via_apply = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe.apply_bpe(docs, merges).collect()
        }
        for r in counted.select("doc_id", "n_bpe_tokens").collect():
            assert r["n_bpe_tokens"] == via_apply[r["doc_id"]]
        with pytest.raises(ValueError, match="already exists"):
            bpe.bpe_token_count(counted, merges)

    def test_bpe_denominated_budgets_differ_from_whitespace(self, spark):
        # planted text where the learned merges compress src0's words to
        # single tokens while src1's stay letter-split: a token budget
        # denominated in BPE tokens must draw a DIFFERENT document set
        # than the same budget over whitespace counts, and epoch_mixture
        # token mode must reach the BPE budget exactly-or-just-over
        from aws_data_wrangler_spark.operators import bpe, sampling, text

        rows = [
            (i, "src0", " ".join(["low"] * 10)) for i in range(8)
        ] + [
            (i + 100, "src1", " ".join(["zq"] * 10)) for i in range(8)
        ]
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        # merges learned on the src0 side only: 'low</w>' fuses to one
        # token, 'zq</w>' stays 3 ('z','q',EOW)
        merges = bpe.train_bpe(docs.filter(F.col("source") == "src0"), num_merges=3)
        counted = bpe.bpe_token_count(docs, merges)
        per_src = {
            r["source"]: r["t"]
            for r in counted.groupBy("source").agg(F.sum("n_bpe_tokens").alias("t")).collect()
        }
        assert per_src["src0"] == 8 * 10      # one token per word
        assert per_src["src1"] == 8 * 10 * 3  # letter-split + EOW
        ws = text.with_token_counts(docs)
        assert {
            r["source"]: r["t"]
            for r in ws.groupBy("source").agg(F.sum("ws_tokens").alias("t")).collect()
        } == {"src0": 80, "src1": 80}  # whitespace counting is blind to this
        # token_budget_sample: an 80-token budget buys ALL of src0 in
        # BPE terms but only ~3 docs of src1 (30 tokens/doc)
        kept = sampling.token_budget_sample(
            counted, {"src0": 80, "src1": 80}, token_col="n_bpe_tokens"
        )
        got = {
            r["source"]: r["n"]
            for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
        }
        assert got["src0"] == 8
        assert got["src1"] == 3  # 2 full docs (60) + the crossing doc
        # epoch_mixture token mode reaches the BPE target exactly-or-
        # just-over per stratum
        mixed = sampling.epoch_mixture(
            counted, {"src0": 170, "src1": 250}, token_col="n_bpe_tokens"
        )
        tok = {
            r["source"]: r["t"]
            for r in mixed.groupBy("source").agg(F.sum("n_bpe_tokens").alias("t")).collect()
        }
        # src0: 2 full epochs (160) + one 10-token doc crosses 170
        assert 170 <= tok["src0"] < 170 + 10
        # src1: 1 full epoch (240) + one 30-token doc crosses 250
        assert 250 <= tok["src1"] < 250 + 30


class TestTemperatureSampling:
    def test_fractions_hand_computed(self):
        from aws_data_wrangler_spark.operators import sampling

        # weights sqrt(100)=10, sqrt(4)=2; tw=12
        fr = sampling.temperature_fractions({"a": 100, "b": 4}, alpha=0.5, target_rows=52)
        assert abs(fr["a"] - 52 * 10 / (12 * 100)) < 1e-12
        assert fr["b"] == 1.0  # 52*2/(12*4) ≈ 2.17 capped at 1

    def test_alpha_one_preserves_natural_mix(self):
        from aws_data_wrangler_spark.operators import sampling

        fr = sampling.temperature_fractions({"a": 300, "b": 100}, alpha=1.0, target_rows=200)
        # alpha=1 → every stratum keeps the same fraction target/total
        assert abs(fr["a"] - 0.5) < 1e-12 and abs(fr["b"] - 0.5) < 1e-12

    def test_fractions_exclude_a_none_stratum_like_the_distributed_path(self):
        # r12 review finding: the groupBy-collect recipe yields a None
        # key for NULL strata; its weight must NOT depress the real
        # strata (temperature_thresholds excludes NULL strata — the
        # "can never drift" contract covers the None key too)
        from aws_data_wrangler_spark.operators import sampling

        with_null = sampling.temperature_fractions(
            {"a": 100, "b": 4, None: 1_000_000}, alpha=0.5, target_rows=52
        )
        without = sampling.temperature_fractions(
            {"a": 100, "b": 4}, alpha=0.5, target_rows=52
        )
        assert None not in with_null
        assert with_null == without

    def test_temperature_sample_flattens_and_is_deterministic(self, spark, documents):
        from aws_data_wrangler_spark.operators import sampling

        kept = sampling.temperature_sample(documents, strata_col="lang", alpha=0.5)
        a = {r["doc_id"] for r in kept.select("doc_id").collect()}
        b = {
            r["doc_id"]
            for r in sampling.temperature_sample(documents, strata_col="lang", alpha=0.5)
            .select("doc_id")
            .collect()
        }
        assert a == b  # deterministic across runs
        full = {r["lang"]: r["n"] for r in documents.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        got = {
            r["lang"]: r["n"]
            for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
        # flattening: the kept head/tail ratio must shrink vs the natural mix
        langs = sorted(full, key=full.get)
        head, tail = langs[-1], langs[0]
        assert got[head] / got[tail] < full[head] / full[tail]


class TestGopherFlags:
    def test_rule_features_and_keep(self, spark):
        from aws_data_wrangler_spark.operators import text

        rows = [
            (1, "the quick brown fox jumps over a lazy dog and it runs to the barn"),
            (2, "# # # # # # # # # # # # the of to in is it a an and or"),  # symbol-heavy
            (3, "too short"),  # under word minimum
            (4, "1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18 19 20"),  # no alpha words
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r.asDict() for r in text.with_gopher_flags(df).collect()}
        assert out[1]["gopher_keep"] is True
        assert out[2]["gopher_keep"] is False and out[2]["gopher_symbol_ratio"] >= 0.1
        assert out[3]["gopher_keep"] is False and out[3]["gopher_words"] == 2
        assert out[4]["gopher_keep"] is False and out[4]["gopher_alpha_ratio"] == 0.0
        assert abs(out[1]["gopher_mean_word_len"] - (51 / 15)) < 1e-4

    def test_flags_not_filter(self, spark, documents):
        from aws_data_wrangler_spark.operators import text

        out = text.with_gopher_flags(documents)
        assert out.count() == documents.count()  # a flag, never a filter
        # and it stays a pure projection: no shuffle
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan


class TestProfiling:
    def test_referential_integrity_classes(self, spark):
        from aws_data_wrangler_spark.operators import profiling

        parent = spark.createDataFrame([(1,), (2,)], "pk long")
        child = spark.createDataFrame(
            [(1,), (1,), (2,), (9,), (None,)], "fk long"
        )
        r = profiling.referential_integrity(
            child, parent, on="fk", parent_on="pk"
        ).collect()[0]
        assert (r["n_child"], r["n_orphans"], r["n_null_keys"]) == (5, 1, 1)
        assert r["orphan_share"] == 0.2
        # composite keys: arity mismatch rejected; null in ANY key col
        # counts as a null key, not an orphan
        import pytest as _pytest

        with _pytest.raises(ValueError, match="arity"):
            profiling.referential_integrity(child, parent, on=["fk"], parent_on=["a", "b"])
        p2 = spark.createDataFrame([(1, "x")], "a long, b string")
        c2 = spark.createDataFrame(
            [(1, "x"), (1, None), (2, "x")], "a long, b string"
        )
        r2 = profiling.referential_integrity(c2, p2, on=["a", "b"]).collect()[0]
        assert (r2["n_child"], r2["n_orphans"], r2["n_null_keys"]) == (3, 1, 1)

    def test_key_uniqueness_counts_and_null_keys_group(self, spark):
        from aws_data_wrangler_spark.operators import profiling

        df = spark.createDataFrame(
            [(1, "a"), (1, "a"), (1, "a"), (2, "b"), (None, "c"), (None, "c")],
            "k long, v string",
        )
        r = profiling.key_uniqueness(df, "k").collect()[0]
        # keys: 1 (×3), 2 (×1), NULL (×2 — two all-NULL keys are the
        # SAME key here; the profiler surfaces what UNIQUE waves through)
        assert (r["n_rows"], r["n_keys"]) == (6, 3)
        assert (r["n_dup_keys"], r["n_dup_rows"], r["max_multiplicity"]) == (2, 5, 3)
        clean = profiling.key_uniqueness(df, ["k", "v"]).collect()[0]
        assert clean["n_keys"] == 3 and clean["n_dup_keys"] == 2

    def test_referential_integrity_broadcasts_parent_keys(self, spark, events):
        # the 100 TB child side must never shuffle: the parent key set
        # is the broadcast side of the probe join
        from aws_data_wrangler_spark.operators import profiling
        from aws_data_wrangler_spark.plans.queries import load

        customer = load(spark, "/root/testdata/sf0.001", "customer")
        out = profiling.referential_integrity(
            events, customer, on="user_id", parent_on="c_custkey"
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
        assert "SortMergeJoin" not in plan, plan

    def test_key_distribution_hand_computed(self, spark):
        # hand-counted heavy-hitter profile: 6×a, 3×b, 1×c → ranks by
        # count desc then key, shares/cum_shares 6dp floor-truncated
        from aws_data_wrangler_spark.operators import profiling

        df = spark.createDataFrame(
            [("a",)] * 6 + [("b",)] * 3 + [("c",)], "k string"
        )
        rows = {r["k"]: r for r in profiling.key_distribution(df, ["k"], top_n=2).collect()}
        assert set(rows) == {"a", "b"}  # top-2 cut before the window
        assert (rows["a"]["n"], rows["a"]["rank"]) == (6, 1)
        assert (rows["b"]["n"], rows["b"]["rank"]) == (3, 2)
        assert rows["a"]["share"] == 0.6 and rows["a"]["cum_share"] == 0.6
        assert rows["b"]["share"] == 0.3 and rows["b"]["cum_share"] == 0.9

    def test_referential_integrity_broadcast_tristate(self, spark):
        # broadcast_keys is the module tri-state (ADVICE r6): False is
        # the high-cardinality-parent OOM escape — a shuffle join, no
        # forced broadcast of the key set — and all three settings are
        # value-identical
        from aws_data_wrangler_spark.operators import profiling

        parent = spark.createDataFrame([(i,) for i in range(100)], "pk long")
        child = spark.createDataFrame(
            [(i % 150 if i % 7 else None,) for i in range(300)], "fk long"
        )
        vals = {
            mode: profiling.referential_integrity(
                child, parent, on="fk", parent_on="pk", broadcast_keys=mode
            ).collect()[0]
            for mode in (True, None, False)
        }
        assert vals[True] == vals[None] == vals[False]
        plan = profiling.referential_integrity(
            child, parent, on="fk", parent_on="pk", broadcast_keys=False
        )._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan, plan

    def test_distribution_drift_psi_hand_computed(self, spark):
        import math

        from aws_data_wrangler_spark.operators import profiling

        # baseline 80/20 a/b, current 50/50 — textbook PSI case
        base = spark.createDataFrame(
            [("a",)] * 8 + [("b",)] * 2, "cat string"
        )
        cur = spark.createDataFrame(
            [("a",)] * 5 + [("b",)] * 5, "cat string"
        )
        rows = {
            r["bucket"]: r
            for r in profiling.distribution_drift(base, cur, "cat").collect()
        }
        assert rows["a"]["n_base"] == 8 and rows["a"]["n_cur"] == 5
        assert rows["a"]["base_share"] == 0.8 and rows["a"]["cur_share"] == 0.5
        want_a = math.floor((0.8 - 0.5) * math.log(0.8 / 0.5) * 1e6) / 1e6
        want_b = math.floor((0.2 - 0.5) * math.log(0.2 / 0.5) * 1e6) / 1e6
        assert rows["a"]["psi_term"] == want_a
        assert rows["b"]["psi_term"] == want_b
        # both terms positive; total PSI = sum
        assert want_a > 0 and want_b > 0

    def test_distribution_drift_missing_bucket_and_nulls(self, spark):
        import math

        from aws_data_wrangler_spark.operators import profiling

        # a category absent from one side gets share 0 → the eps floor
        # keeps the term finite; NULLs bucket as __null__
        base = spark.createDataFrame([("a",), ("a",), (None,)], "cat string")
        cur = spark.createDataFrame([("a",), ("c",)], "cat string")
        rows = {
            r["bucket"]: r
            for r in profiling.distribution_drift(base, cur, "cat").collect()
        }
        assert set(rows) == {"a", "c", "__null__"}
        c = rows["c"]
        assert c["n_base"] == 0 and c["base_share"] == 0.0
        want = math.floor((1e-6 - 0.5) * math.log(1e-6 / 0.5) * 1e6) / 1e6
        assert c["psi_term"] == want
        assert rows["__null__"]["n_base"] == 1 and rows["__null__"]["n_cur"] == 0

    def test_distribution_drift_terms_are_nonnegative_property(self, spark, documents):
        # structural invariant: (p−q)·ln(p/q) ≥ 0 for every bucket
        # (sign(p−q) == sign(ln(p/q))), so total PSI can never be
        # negative — checked over several deterministic hash splits
        from aws_data_wrangler_spark.operators import profiling

        for mod, rem in [(2, 0), (3, 1), (7, 3)]:
            base = documents.filter(F.col("doc_id") % mod == rem)
            cur = documents.filter(F.col("doc_id") % mod != rem)
            rows = profiling.distribution_drift(base, cur, "source").collect()
            assert rows and all(r["psi_term"] >= 0.0 for r in rows)
            # shares on each side sum to 1 (within float addition)
            assert abs(sum(r["base_share"] for r in rows) - 1.0) < 1e-9
            assert abs(sum(r["cur_share"] for r in rows) - 1.0) < 1e-9

    def test_snapshot_diff_random_mutation_roundtrip(self, spark, documents):
        # property over a pseudo-random mutation plan: the diff must
        # recover exactly the planted added/removed/changed id sets
        docs = documents.select("doc_id", "text")
        # membership + mutation driven by md5 of the id (seeded, stable)
        h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10).cast("long")
        old = docs.withColumn("__h", h).filter("__h % 4 != 0")      # 75% in old
        new = docs.withColumn("__h", h).filter("__h % 5 != 0")      # 80% in new
        new = new.withColumn(
            "text",
            F.when(F.col("__h") % 3 == 0, F.concat(F.col("text"), F.lit("~"))).otherwise(
                F.col("text")
            ),
        )
        got = {
            r["doc_id"]: r["change"]
            for r in dedup.snapshot_diff(old.drop("__h"), new.drop("__h")).collect()
        }
        want = {}
        for r in docs.withColumn("__h", h).select("doc_id", "__h").collect():
            i, hv = r["doc_id"], r["__h"]
            in_old, in_new = hv % 4 != 0, hv % 5 != 0
            if in_old and not in_new:
                want[i] = "removed"
            elif in_new and not in_old:
                want[i] = "added"
            elif in_old and in_new and hv % 3 == 0:
                want[i] = "changed"
        assert got == want

    def test_distribution_drift_numeric_edges_exact(self, spark):
        from aws_data_wrangler_spark.operators import profiling

        # bucket index = count of edges <= x: exact integer binning,
        # values AT an edge land in the upper bucket
        base = spark.createDataFrame(
            [(-1.0,), (0.0,), (4.9,), (5.0,), (100.0,), (None,)],
            "v double",
        )
        out = profiling.distribution_drift(
            base, base, "v", edges=[0.0, 5.0, 100.0]
        )
        got = {r["bucket"]: r["n_base"] for r in out.collect()}
        assert got == {"0": 1, "1": 2, "2": 1, "3": 1, "__null__": 1}
        # identical snapshots → every psi_term is exactly 0
        assert all(r["psi_term"] == 0.0 for r in out.collect())

    def test_length_histogram_bucket_edges_exact(self, spark):
        from aws_data_wrangler_spark.operators import profiling

        # plant docs exactly AT power-of-two boundaries: 1, 2, 4, 8
        # tokens land in buckets 1, 2, 3, 4 (bit length), plus empty
        df = spark.createDataFrame(
            [
                (1, "a"),
                (2, "a b"),
                (3, "a b c d"),
                (4, " ".join("x" * 1 for _ in range(8))),
                (5, "   "),
            ],
            ["doc_id", "text"],
        )
        rows = {
            r["bucket"]: (r["lo_tokens"], r["hi_tokens"], r["n_docs"])
            for r in profiling.length_histogram(df).collect()
        }
        assert rows[1] == (0, 1, 2)  # the empty doc and the 1-token doc
        assert rows[2] == (2, 3, 1)
        assert rows[3] == (4, 7, 1)
        assert rows[4] == (8, 15, 1)
        shares = {
            r["bucket"]: r["doc_share"]
            for r in profiling.length_histogram(df).collect()
        }
        assert shares[1] == 0.4


    def test_key_distribution_matches_exact_counts(self, spark, events):
        from aws_data_wrangler_spark.operators import profiling

        top = profiling.key_distribution(events, ["user_id"], top_n=5).collect()
        assert len(top) == 5
        exact = {
            r["user_id"]: r["n"]
            for r in events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
        }
        total = events.count()
        prev = None
        for row in top:
            assert row["n"] == exact[row["user_id"]]
            assert abs(row["share"] - row["n"] / total) < 1e-6
            if prev is not None:
                assert prev["n"] >= row["n"]  # rank order
                assert row["cum_share"] >= prev["cum_share"]
            prev = row

    def test_join_fanout_estimate_is_exact(self, spark, events):
        from aws_data_wrangler_spark.operators import profiling

        errors = events.filter("event_type = 'error'")
        clicks = events.filter("event_type = 'click'")
        est = profiling.join_fanout_estimate(errors, clicks, ["user_id"], top_n=5).collect()
        assert len(est) <= 5
        # each key's contribution is its exact inner-join output size
        for row in est:
            actual = (
                errors.filter(F.col("user_id") == row["user_id"]).count()
                * clicks.filter(F.col("user_id") == row["user_id"]).count()
            )
            assert row["out_rows"] == actual
        # total share over ALL keys sums to 1 ⇒ top-5 shares ≤ 1
        assert sum(r["share"] for r in est) <= 1.0 + 1e-6
        # rank order is by contribution
        assert [r["out_rows"] for r in est] == sorted(
            (r["out_rows"] for r in est), reverse=True
        )

    def test_join_fanout_flags_planted_skew(self, spark):
        from aws_data_wrangler_spark.operators import profiling

        left = spark.range(1000).select((F.col("id") % 100).alias("k"))
        hot = spark.range(500).select(F.lit(0).alias("k"))
        right = spark.range(100).select(F.col("id").alias("k")).unionByName(hot)
        est = profiling.join_fanout_estimate(left, right, ["k"], top_n=3).collect()
        # key 0 contributes 10 × 501 = 5010 of the 6000 total output
        # rows (99 other keys × 10 each) → share ≈ 0.835
        assert est[0]["k"] == 0 and est[0]["out_rows"] == 10 * 501
        assert est[0]["share"] > 0.8

    def test_hll_sketches_merge_losslessly(self, spark, events):
        from aws_data_wrangler_spark.operators import profiling

        # incremental shape: sketch two halves separately, union the
        # SKETCH ROWS — merges are register-lossless but estimates are
        # NOT bit-identical across grouping paths once sketches cross
        # representation-promotion boundaries (sf0.1 showed a 0.7% gap
        # at NDV 1500), so the contract is a 2% bound, exact at tiny
        # cardinalities — and the result lands near the exact NDV
        half_a = events.filter("event_id % 2 = 0")
        half_b = events.filter("event_id % 2 = 1")
        rows = profiling.hll_column_sketches(half_a, ["user_id", "event_type"]).unionByName(
            profiling.hll_column_sketches(half_b, ["user_id", "event_type"])
        )
        merged_est = {
            r["column"]: r for r in profiling.hll_estimates(rows).collect()
        }
        single_est = {
            r["column"]: r
            for r in profiling.hll_estimates(
                profiling.hll_column_sketches(events, ["user_id", "event_type"])
            ).collect()
        }
        exact_users = events.select("user_id").distinct().count()
        for col in ("user_id", "event_type"):
            m, s = merged_est[col]["n_distinct_est"], single_est[col]["n_distinct_est"]
            assert abs(m - s) <= 0.02 * s
            assert merged_est[col]["n_rows"] == events.count()
        assert abs(merged_est["user_id"]["n_distinct_est"] - exact_users) / exact_users < 0.05
        assert merged_est["event_type"]["n_distinct_est"] == events.select(
            "event_type"
        ).distinct().count()  # tiny cardinalities are exact in HLL

    def test_grouped_hll_rollup_daily_uniques(self, spark, tmp_path):
        # the NDV-cube semantics: a user active on many days is MANY
        # (type, day) sketch rows but ONE unique after rollup — the
        # naive sum-of-daily-counts answer (which would be wrong) is
        # asserted strictly larger; estimates are exact in the
        # exact-mode regime; n_rows sums exactly; the rollup runs off
        # a PERSISTED sketch table (the no-rescan contract)
        from aws_data_wrangler_spark.operators import profiling

        # id = user + 30*day_index: EVERY user is active on all 10
        # days, so cross-day dedup is genuinely exercised (a rollup
        # that summed per-day NDVs instead of unioning sketches would
        # be 10x off)
        df = spark.range(300).selectExpr(
            "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS typ",
            "date_add(date'2024-01-01', CAST(id DIV 30 AS INT)) AS day",
            "CAST(id % 30 AS STRING) AS user_id",
        )
        fine = profiling.grouped_hll_sketches(df, ["typ", "day"], "user_id")
        out = f"file://{tmp_path}/ndv_cube"
        fine.write.parquet(out)
        persisted = spark.read.parquet(out)
        per_type = {
            r["typ"]: r for r in profiling.hll_rollup(persisted, ["typ"]).collect()
        }
        # typ 'a' = even ids -> users {0,2,..,28}: 15 uniques across
        # all 10 days, 150 rows
        assert per_type["a"]["n_distinct_est"] == 15
        assert per_type["b"]["n_distinct_est"] == 15
        assert per_type["a"]["n_rows"] == 150
        # the WRONG answer a naive rollup would give: per-day NDVs
        # (read off the same sketch table at the fine grain) sum to
        # 10 x 15 = 150 because every user repeats daily
        per_day = profiling.hll_rollup(persisted, ["typ", "day"])
        naive_ndv_sum = sum(
            r["n_distinct_est"] for r in per_day.filter("typ = 'a'").collect()
        )
        assert naive_ndv_sum == 150 > per_type["a"]["n_distinct_est"] == 15
        total = profiling.hll_rollup(persisted, []).collect()[0]
        assert total["n_rows"] == 300 and total["n_distinct_est"] == 30
        # grand-total rollup of an EMPTY sketch table: empty frame,
        # not an all-NULL row (the hll_estimates empty-state contract)
        assert profiling.hll_rollup(persisted.limit(0), []).collect() == []

    def test_hll_family_escapes_backticked_column_names(self, spark):
        # ADVICE r9: a column name containing a backtick must not break
        # the interpolated hll expressions (escaped via _bt)
        from aws_data_wrangler_spark.operators import profiling

        df = spark.range(20).selectExpr(
            "CAST(id % 5 AS STRING) AS `u``id`", "id % 2 AS `g``x`",
            "CAST(id AS DOUBLE) AS `v``al`",
        )
        est = profiling.hll_estimates(
            profiling.hll_column_sketches(df, ["u`id"])
        ).collect()
        assert est[0]["column"] == "u`id" and est[0]["n_distinct_est"] == 5
        grouped = profiling.grouped_hll_sketches(df, ["g`x"], "u`id")
        rolled = {r["g`x"]: r for r in profiling.hll_rollup(grouped, ["g`x"]).collect()}
        assert rolled[0]["n_distinct_est"] == 5 and rolled[1]["n_distinct_est"] == 5
        # the sibling sketch families must survive the same name
        # (review r10: the first fix covered only the HLL family)
        qs = profiling.quantile_sketches(df, ["v`al"], bins=4).collect()[0]
        assert qs["column"] == "v`al" and qs["n"] == 20
        qg = profiling.quantile_sketches(
            df, ["v`al"], bins=4, value_grid=0.5
        ).collect()[0]
        assert qg["n"] == 20
        km = profiling.kmv_estimates(
            profiling.kmv_sketches(df, ["u`id"], k=16)
        ).collect()[0]
        assert km["column"] == "u`id" and km["n_distinct_est"] == 5
        # batch_col and the CMS key/probe paths take the same names
        # (review r10 second pass: every user-supplied column name in
        # the sketch family must survive a backtick)
        qb = profiling.quantile_sketches(df, ["v`al"], batch_col="g`x", bins=4)
        assert qb.count() == 2
        kb = profiling.kmv_sketches(df, ["u`id"], k=16, batch_col="g`x")
        assert kb.count() == 2
        cs = profiling.cms_sketches(df, "u`id", batch_col="g`x", width=64)
        est = profiling.cms_estimates(cs, df, "u`id")
        assert est.count() == 5

    def test_pre_r9_profilers_escape_backticked_column_names(self, spark):
        # the r12 extension of the _bcol audit (VERDICT r11 #3): the
        # pre-r9 profilers took user column names through bare F.col,
        # so an embedded backtick raised INVALID_ATTRIBUTE_NAME_SYNTAX
        from aws_data_wrangler_spark.operators import profiling

        df = spark.range(20).selectExpr(
            "CAST(id % 5 AS STRING) AS `u``id`",
            "CAST(id % 4 AS DOUBLE) AS `v``al`",
            "CAST(id % 2 AS DOUBLE) AS `w``t`",
        )
        np_ = {r["column"]: r for r in profiling.null_profile(df, ["u`id"]).collect()}
        assert np_["u`id"]["n_distinct"] == 5 and np_["u`id"]["n_null"] == 0
        ns = {r["column"]: r for r in profiling.numeric_summary(df, ["v`al"]).collect()}
        assert ns["v`al"]["n_rows"] == 20 and ns["v`al"]["max"] == 3.0
        cc = profiling.column_correlations(df, ["v`al", "w`t"]).collect()
        assert len(cc) == 1 and cc[0]["n"] == 20
        hist = profiling.numeric_histogram(df, "v`al", bins=4).collect()
        assert [r["n"] for r in hist] == [5, 5, 5, 5]
        kd = profiling.key_distribution(df, ["u`id"], top_n=3).collect()
        assert kd[0]["n"] == 4 and kd[0]["u`id"] in {"0", "1", "2", "3", "4"}

    def test_column_correlations_drop_nan_rows_like_dropna(self, spark):
        # r12 review finding: the dropna→isNotNull replica kept NaN
        # rows, counting them in n while their decimal-cast products
        # went NULL — listwise deletion must treat NaN as missing,
        # exactly as dropna did
        import math

        from aws_data_wrangler_spark.operators import profiling

        rows = [(1.0, 2.0), (2.0, 4.1), (3.0, 5.9), (float("nan"), 7.0)]
        df = spark.createDataFrame(rows, "a double, b double")
        out = profiling.column_correlations(df, ["a", "b"]).collect()[0]
        assert out["n"] == 3  # the NaN row is deleted listwise
        xs, ys = [1.0, 2.0, 3.0], [2.0, 4.1, 5.9]
        n = 3
        sx, sy = sum(xs), sum(ys)
        sxx, syy = sum(x * x for x in xs), sum(y * y for y in ys)
        sxy = sum(x * y for x, y in zip(xs, ys))
        want = (n * sxy - sx * sy) / math.sqrt(
            (n * sxx - sx * sx) * (n * syy - sy * sy)
        )
        assert abs(out["corr"] - want) < 1e-6

    def test_kmv_set_estimates_empty_side_is_empty_frame(self, spark):
        # day-zero contract (review r10): one parity half with no rows
        # must yield an empty estimate frame, not a mixed-k ValueError
        from aws_data_wrangler_spark.operators import profiling

        full = profiling.kmv_sketches(
            spark.range(50).selectExpr("CAST(id AS STRING) AS u"), ["u"], k=64
        )
        empty = profiling.kmv_sketches(
            spark.range(0).selectExpr("CAST(id AS STRING) AS u"), ["u"], k=64
        )
        assert profiling.kmv_set_estimates(empty, full).collect() == []
        assert profiling.kmv_set_estimates(full, empty).collect() == []
        assert profiling.kmv_set_estimates(empty, empty).collect() == []

    def test_quantile_sketch_single_batch_is_exact_at_grid_points(self, spark):
        # one batch, grid-aligned percentiles: the sketch IS the exact
        # order statistic, so estimates equal Spark's exact percentile
        from aws_data_wrangler_spark.operators import profiling

        vals = [float(v) for v in [5, 1, 9, 3, 7, 2, 8, 4, 6, 10]]
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        sk = profiling.quantile_sketches(df, ["x"], bins=4)
        est = {
            r["p"]: r["est"]
            for r in profiling.quantile_estimates(sk, [0.0, 0.25, 0.5, 0.75, 1.0]).collect()
        }
        exact = df.selectExpr(
            "percentile(x, array(0.0, 0.25, 0.5, 0.75, 1.0)) AS q"
        ).collect()[0]["q"]
        assert [est[p] for p in (0.0, 0.25, 0.5, 0.75, 1.0)] == list(exact)

    def test_quantile_sketch_merge_is_deterministic_and_bounded(self, spark):
        # the HLL-invariant pattern for percentiles: 4 disjoint batches
        # sketched independently, merged estimate within the ±2/bins
        # RANK envelope of the exact pooled quantile; endpoints exact;
        # merge bit-identical regardless of sketch-row order/partitioning
        import math

        from aws_data_wrangler_spark.operators import profiling

        n, bins = 2000, 64
        df = spark.range(n).selectExpr(
            "cast(pmod(id * 37, 1000) as double) + id / 10000.0 AS x",
            "pmod(id, 4) AS b",
        )
        sk = profiling.quantile_sketches(df, ["x"], batch_col="b", bins=bins)
        merged = profiling.quantile_union(sk).collect()[0]
        assert merged["n"] == n
        xs = sorted(r["x"] for r in df.select("x").collect())
        assert merged["grid"][0] == xs[0] and merged["grid"][-1] == xs[-1]
        eps = 2.0 / bins
        for p in (0.1, 0.5, 0.9, 0.99):
            est = profiling.quantile_estimates(sk, [p]).collect()[0]["est"]
            lo = xs[max(int(math.floor((p - eps) * (n - 1))), 0)]
            hi = xs[min(int(math.ceil((p + eps) * (n - 1))), n - 1)]
            assert lo <= est <= hi, (p, lo, est, hi)
        # determinism: shuffled sketch rows + different partitioning
        # merge to the SAME grid, bit for bit
        re = profiling.quantile_union(
            sk.orderBy(F.rand(7)).repartition(5)
        ).collect()[0]
        assert list(re["grid"]) == list(merged["grid"])

    def test_quantile_sketch_value_grid_bounds_state_on_high_ndv(self, spark):
        # VERDICT r9 #4: the corpus-NDV caveat closed IN the operator —
        # value_grid=g snaps values to the nearest multiple of g BEFORE
        # the exact percentile, so the per-(batch, column) counts-map
        # is bounded by range/g + 1 states regardless of column NDV,
        # and every grid point moves by at most g/2
        import math

        from aws_data_wrangler_spark.operators import profiling

        n, bins, g = 4000, 64, 0.25
        # every value distinct (corpus-NDV shape): id + irrational-ish
        # fractional spread over [0, 400)
        df = spark.range(n).selectExpr(
            "CAST(id AS DOUBLE) / 10.0d + "
            "CAST(pmod(id * 7919, 997) AS DOUBLE) / 9970.0d AS x",
            "pmod(id, 4) AS b",
        )
        sk = profiling.quantile_sketches(
            df, ["x"], batch_col="b", bins=bins, value_grid=g
        )
        # bounded state: the percentile aggregate's value-count map only
        # sees the QUANTIZED domain — <= range/g + 1 states even though
        # the raw column has n distinct values (grid points themselves
        # may interpolate BETWEEN adjacent multiples of g — R-7 — which
        # keeps the <= g/2 error bound: a convex combination of two
        # values each within g/2 of its raw order statistic)
        n_states = df.selectExpr(
            f"floor(x / {g} + 0.5d) * {g} AS q"
        ).distinct().count()
        assert df.select("x").distinct().count() == n
        assert n_states <= (400.0 / g) + 2
        # value error <= g/2 at every probed percentile vs the RAW exact
        xs = sorted(r["x"] for r in df.select("x").collect())
        eps = 2.0 / bins
        for p in (0.0, 0.1, 0.5, 0.9, 1.0):
            est = profiling.quantile_estimates(sk, [p]).collect()[0]["est"]
            lo = xs[max(int(math.floor((p - eps) * (n - 1))), 0)] - g / 2
            hi = xs[min(int(math.ceil((p + eps) * (n - 1))), n - 1)] + g / 2
            assert lo <= est <= hi, (p, lo, est, hi)
        # quantized batches still merge bit-deterministically, and the
        # merged table equals the single-pass quantized sketch's grid
        single = profiling.quantile_sketches(
            df, ["x"], bins=bins, value_grid=g
        ).collect()[0]
        merged = profiling.quantile_union(sk).collect()[0]
        assert merged["n"] == single["n"] == n
        assert merged["grid"][0] == single["grid"][0]
        assert merged["grid"][-1] == single["grid"][-1]
        re = profiling.quantile_union(sk.orderBy(F.rand(3)).repartition(5))
        assert list(re.collect()[0]["grid"]) == list(merged["grid"])
        import pytest as _pytest

        with _pytest.raises(ValueError, match="value_grid"):
            profiling.quantile_sketches(df, ["x"], value_grid=0.0)

    def test_quantile_sketch_parquet_roundtrip_and_guards(self, spark, tmp_path):
        from aws_data_wrangler_spark.operators import profiling

        df = spark.range(100).selectExpr(
            "cast(id AS double) AS x", "pmod(id, 3) AS b"
        )
        sk = profiling.quantile_sketches(df, ["x"], batch_col="b", bins=16)
        out = f"file://{tmp_path}/qsketch"
        sk.write.parquet(out)
        back = spark.read.parquet(out)
        a = sorted(map(tuple, sk.collect()))
        assert sorted(map(tuple, back.collect())) == a  # bit-identical
        est = profiling.quantile_estimates(back, [0.5]).collect()[0]["est"]
        assert est == profiling.quantile_estimates(sk, [0.5]).collect()[0]["est"]
        import pytest as _pytest

        with _pytest.raises(ValueError, match="grid sizes"):
            profiling.quantile_union(
                sk.unionByName(profiling.quantile_sketches(df, ["x"], bins=8))
            )
        with _pytest.raises(ValueError, match="percentiles"):
            profiling.quantile_estimates(sk, [1.5])
        with _pytest.raises(ValueError, match="bins"):
            profiling.quantile_sketches(df, ["x"], bins=0)

    def test_kmv_sketch_matches_python_reference_and_exact_mode(self, spark):
        # the KMV mins array must equal the k smallest distinct
        # hashlib-md5 hashes (the engine-portable coin), and a sketch
        # with NDV < k IS the exact distinct set → estimate exact
        import hashlib

        from aws_data_wrangler_spark.operators import profiling

        df = spark.range(200).selectExpr(
            "CAST(pmod(id, 60) AS STRING) AS v", "pmod(id, 3) AS b",
            "CASE WHEN id % 7 = 0 THEN NULL ELSE CAST(id AS STRING) END AS w",
        )
        sk = profiling.kmv_sketches(df, ["v"], k=16)
        ref = sorted(
            int(hashlib.md5(f"kmv:{x}".encode()).hexdigest()[:15], 16)
            for x in {str(i % 60) for i in range(200)}
        )
        row = sk.collect()[0]
        assert list(row["mins"]) == ref[:16] and row["n_rows"] == 200
        # exact mode: k above the NDV → the estimate IS the exact NDV
        exact = profiling.kmv_estimates(
            profiling.kmv_sketches(df, ["v", "w"], k=512)
        )
        got = {r["column"]: r for r in exact.collect()}
        assert got["v"]["n_distinct_est"] == 60
        # NULLs excluded on both counts (the count(col) convention)
        assert got["w"]["n_distinct_est"] == 200 - len(range(0, 200, 7))
        assert got["w"]["n_rows"] == 200 - len(range(0, 200, 7))

    def test_kmv_sketches_rejects_duplicate_cols(self, spark):
        # ["v", "v"] used to collapse into one fused row while the
        # stats explode double-joined its candidates: reject at entry
        from aws_data_wrangler_spark.operators import profiling

        df = spark.range(50).selectExpr("CAST(id AS STRING) AS v", "id AS w")
        with pytest.raises(ValueError, match="distinct.*'v'"):
            profiling.kmv_sketches(df, ["v", "w", "v"], k=16)

    def test_kmv_union_bit_identical_and_estimator_regime(self, spark):
        # batched sketches must union BIT-IDENTICALLY to the single
        # pass (pure set minimum — the CMS determinism class), and the
        # (k-1)*2^60/h_k estimator must land near a 5000-NDV truth
        # (deterministic for this data — no flakiness)
        from aws_data_wrangler_spark.operators import profiling

        df = spark.range(10_000).selectExpr(
            "CAST(pmod(id, 5000) AS STRING) AS v", "pmod(id, 4) AS b"
        )
        k = 256
        batched = profiling.kmv_sketches(df, ["v"], k=k, batch_col="b")
        merged = profiling.kmv_union(batched).collect()[0]
        single = profiling.kmv_sketches(df, ["v"], k=k).collect()[0]
        assert list(merged["mins"]) == list(single["mins"])
        assert merged["n_rows"] == single["n_rows"] == 10_000
        est = profiling.kmv_estimates(batched).collect()[0]["n_distinct_est"]
        assert abs(est - 5000) / 5000 < 0.2  # ~1/sqrt(256) ≈ 6% RSE
        # geometry guard (the quantile grid-size / CMS depth rule)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="different k"):
            profiling.kmv_union(
                batched.unionByName(profiling.kmv_sketches(df, ["v"], k=64))
            )

    def test_kmv_set_estimates_exact_regime_and_overlap(self, spark):
        # the family's raison d'être: intersections. In the exact
        # regime (both sketches under-full) the union sketch carries
        # every hash, so jaccard and the intersection estimate are
        # EXACT set arithmetic — pinned against the planted overlap
        from aws_data_wrangler_spark.operators import profiling

        a = spark.range(0, 300).selectExpr("CAST(id AS STRING) AS u")
        b = spark.range(200, 600).selectExpr("CAST(id AS STRING) AS u")
        sk_a = profiling.kmv_sketches(a, ["u"], k=1024)
        sk_b = profiling.kmv_sketches(b, ["u"], k=1024)
        row = profiling.kmv_set_estimates(sk_a, sk_b).collect()[0]
        assert row["ndv_a_est"] == 300 and row["ndv_b_est"] == 400
        assert row["union_est"] == 600
        assert row["intersection_est"] == 100  # ids 200..299
        assert abs(row["jaccard_est"] - 100 / 600) < 1e-6
        # estimate regime: bigger sets, k = 256 — deterministic value,
        # envelope asserted (RSE ~6%)
        a2 = spark.range(0, 6000).selectExpr("CAST(id AS STRING) AS u")
        b2 = spark.range(3000, 9000).selectExpr("CAST(id AS STRING) AS u")
        row2 = profiling.kmv_set_estimates(
            profiling.kmv_sketches(a2, ["u"], k=256),
            profiling.kmv_sketches(b2, ["u"], k=256),
        ).collect()[0]
        assert abs(row2["intersection_est"] - 3000) / 3000 < 0.25
        assert abs(row2["union_est"] - 9000) / 9000 < 0.2
        with __import__("pytest").raises(ValueError, match="equal k"):
            profiling.kmv_set_estimates(
                sk_a, profiling.kmv_sketches(b, ["u"], k=64)
            )

    def test_kmv_sizing_pass_pays_no_md5(self, spark):
        # NOTE (ADVICE r13 #2): this pin and the fused-plan pin below
        # assert on optimizedPlan().toString() TEXT, pinned against
        # Spark 4.1.x — a Spark version bump can rename/restructure
        # logical-plan text and fail them without any behavior change;
        # re-derive the expected strings on upgrade before debugging.
        # r13 optimization regression pin: the threshold-sizing pass
        # reads the RAW column — its NDV estimate sizes the prune
        # threshold, so hashing every row with md5 first was a full
        # corpus md5 pass the output is provably invariant to. The
        # sizing aggregate must therefore run approx_count_distinct
        # over the raw key (__k), never over the md5 hash (__h); the
        # md5 coin is paid on the candidate scan only. (Values are
        # pinned separately against the hashlib reference above — the
        # prune threshold provably can't change the output. The plan
        # may still TEXTUALLY restate the candidate-side md5 chain in
        # an optimizer-inferred isnotnull; codegen CSEs it, so only
        # the sizing side is pinned here.)
        from aws_data_wrangler_spark.operators import profiling

        df = spark.range(500).selectExpr("CAST(id AS STRING) AS v")
        sk = profiling.kmv_sketches(df, ["v"], k=64)
        plan = sk._jdf.queryExecution().optimizedPlan().toString()
        assert "approx_count_distinct(__k" in plan, plan
        assert "approx_count_distinct(__h" not in plan, plan
        # and the sizing aggregate's input subtree is md5-free: every
        # md5 occurrence sits on the candidate branch (below the join),
        # none under the stats Aggregate that feeds the threshold
        agg_branch = plan.split("approx_count_distinct(__k", 1)[1]
        assert "md5(" not in agg_branch, plan

    def test_delete_writes_one_tombstone_file_per_call(self, spark, embeddings, tmp_path):
        # r13 optimization regression pin: a delete call appends ONE
        # tombstone file (repartition(1) before the write), not one
        # fragment per input partition — load_tombstones at search
        # time lists and footer-reads every fragment, so an
        # unconsolidated 20-id delete costs ~20 file opens per search
        import glob

        from pyspark.sql import Window

        seeds = (
            embeddings.orderBy("vec_id").limit(8)
            .withColumn("cid", F.row_number().over(Window.orderBy("vec_id")) - 1)
            .select("cid", F.col("embedding").alias("cvec"))
        )
        index = str(tmp_path / "ivf_tomb_files")
        similarity.build_partitioned_ivf(embeddings, seeds, index)
        similarity.delete_from_partitioned_index(spark, index, range(10, 30))
        assert len(glob.glob(f"{index}/_tombstones/*.parquet")) == 1
        # idempotent append: a second call adds exactly one more file
        similarity.delete_from_partitioned_index(spark, index, [99])
        assert len(glob.glob(f"{index}/_tombstones/*.parquet")) == 2

    def test_kmv_multicolumn_fusion_bit_identical(self, spark):
        # r13 (VERDICT r12 #5): a k-column sketch call fuses into TWO
        # corpus passes (one wide sizing aggregate + one stacked
        # hash/prune scan) instead of 2 per column. Per-column results
        # must be BIT-IDENTICAL to the single-column path — same mins,
        # same n_rows, per batch — including NULL-bearing columns and
        # batch keys; and the fused plan must hold exactly ONE
        # approx_count_distinct aggregate node (the single sizing pass).
        from aws_data_wrangler_spark.operators import profiling

        df = spark.range(3_000).selectExpr(
            "CAST(pmod(id, 700) AS STRING) AS v",
            "CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(pmod(id, 37) AS STRING) END AS w",
            "CAST(id AS STRING) AS u",
            "pmod(id, 3) AS b",
        )
        for kwargs in ({}, {"batch_col": "b"}):
            fused = profiling.kmv_sketches(df, ["v", "w", "u"], k=64, **kwargs)
            key = lambda r: (r["batch"], r["column"])
            got = {key(r): r for r in fused.collect()}
            for c in ["v", "w", "u"]:
                for r in profiling.kmv_sketches(df, [c], k=64, **kwargs).collect():
                    f = got[key(r)]
                    assert list(f["mins"]) == list(r["mins"]), (c, kwargs)
                    assert f["n_rows"] == r["n_rows"] and f["k"] == r["k"]
            assert len(got) == (9 if kwargs else 3)
        plan = profiling.kmv_sketches(df, ["v", "w", "u"], k=64)._jdf \
            .queryExecution().optimizedPlan().toString()
        # one Aggregate holds all three NDV estimates; a regression to
        # per-column sizing shows up as three separate aggregate nodes
        assert plan.count("Aggregate [") == 2, plan  # sizing + final k-min

    def test_cms_merge_bit_identical_and_estimate_bounds(self, spark):
        # Count-Min: 4 disjoint batches sketched independently must
        # union to the IDENTICAL counter table (integer sums commute —
        # stronger than HLL's envelope), and with a deliberately tiny
        # width (forced collisions) every point query still obeys
        # true <= est, with per-row bucket mass summing to N
        from aws_data_wrangler_spark.operators import profiling

        df = spark.range(2000).selectExpr(
            "CASE WHEN id % 2 = 0 THEN 'heavy' ELSE 'k' || (id % 200) END AS k",
            "pmod(id, 4) AS b",
        )
        single = profiling.cms_sketches(df, "k", depth=3, width=32)
        merged = profiling.cms_union(
            profiling.cms_sketches(df, "k", depth=3, width=32, batch_col="b")
        )
        key = lambda r: (r["row_i"], r["bucket"], r["cnt"])
        assert sorted(map(key, merged.collect())) == sorted(
            map(key, profiling.cms_union(single).collect())
        )
        # per-row mass = N for every hash row
        n = df.count()
        mass = {
            r["row_i"]: r["m"]
            for r in merged.groupBy("row_i").agg(F.sum("cnt").alias("m")).collect()
        }
        assert mass == {0: n, 1: n, 2: n}
        true = {r["k"]: r["c"] for r in df.groupBy("k").agg(F.count("*").alias("c")).collect()}
        est = {
            r["value"]: r["cms_est"]
            for r in profiling.cms_estimates(merged, df.select("k"), "k").collect()
        }
        assert set(est) == set(true)
        assert all(est[k] >= true[k] for k in true)  # CMS never undercounts
        # the heavy key dominates every bucket it lands in, so its
        # estimate is within the eN/width envelope even at width 32
        assert est["heavy"] - true["heavy"] <= 2.72 * n / 32

    def test_cms_guards_roundtrip_and_empty_state(self, spark, tmp_path):
        from aws_data_wrangler_spark.operators import profiling

        df = spark.range(100).selectExpr("'k' || (id % 7) AS k", "pmod(id, 2) AS b")
        sk = profiling.cms_sketches(df, "k", depth=2, width=64, batch_col="b")
        out = f"file://{tmp_path}/cms"
        sk.write.parquet(out)
        back = spark.read.parquet(out)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sk.collect()))
        import pytest as _pytest

        with _pytest.raises(ValueError, match="depth x width"):
            profiling.cms_union(
                sk.unionByName(profiling.cms_sketches(df, "k", depth=2, width=32))
            )
        with _pytest.raises(ValueError, match="depth and width"):
            profiling.cms_sketches(df, "k", depth=0)
        # unseen probes estimate >= 0; NULL keys/probes are excluded
        # (the count(col) convention); an EMPTY state estimates 0
        probes = spark.createDataFrame(
            [("k1",), ("never-seen",), (None,)], "k string"
        )
        est = {
            r["value"]: r["cms_est"]
            for r in profiling.cms_estimates(sk, probes, "k").collect()
        }
        assert set(est) == {"k1", "never-seen"}
        assert est["k1"] >= 15  # true count of k1 in 0..99 step 7 pattern
        assert est["never-seen"] >= 0
        empty = profiling.cms_estimates(sk.limit(0), probes, "k")
        assert {(r["value"], r["cms_est"]) for r in empty.collect()} == {
            ("k1", 0), ("never-seen", 0),
        }
        nulls = profiling.cms_sketches(
            spark.createDataFrame([(None,), ("x",)], "k string"), "k"
        )
        assert nulls.agg(F.sum("cnt")).collect()[0][0] == 4  # depth rows x 1 key

    def test_cms_join_size_matches_python_reference_and_bounds(self, spark):
        # CM inner-product join-size estimate (r11): batched build ==
        # single-pass build (cell sums commute through the product),
        # the estimate equals a python md5 reference of the product-min
        # exactly, and it upper-bounds the true equi-join cardinality
        import hashlib

        from aws_data_wrangler_spark.operators import profiling

        depth, width = 3, 16  # tiny width -> forced collisions
        a_keys = ["u1"] * 5 + ["u2"] * 3 + ["u3"] * 2 + ["ghost"]
        b_keys = ["u1"] * 2 + ["u2"] * 4 + ["u4"] * 7
        dfa = spark.createDataFrame(
            [(i, k) for i, k in enumerate(a_keys)] + [(99, None)],
            "i long, k string",
        ).withColumn("b", F.col("i") % 3)
        dfb = spark.createDataFrame([(k,) for k in b_keys], "k string")
        sk = lambda df, **kw: profiling.cms_sketches(df, "k", depth=depth, width=width, **kw)
        est = profiling.cms_join_size(sk(dfa, batch_col="b"), sk(dfb)).collect()[0]
        single = profiling.cms_join_size(sk(dfa), sk(dfb)).collect()[0]
        assert tuple(est) == tuple(single)
        assert (est["n_a"], est["n_b"]) == (11, 13)  # NULL key excluded
        ta, tb = {}, {}
        for tbl, keys in ((ta, a_keys), (tb, b_keys)):
            for k in keys:
                for i in range(depth):
                    h = int(hashlib.md5(f"{i}:{k}".encode()).hexdigest()[:15], 16) % width
                    tbl[(i, h)] = tbl.get((i, h), 0) + 1
        ref = min(
            sum(ca * tb.get((i, bk), 0) for (ri, bk), ca in ta.items() if ri == i)
            for i in range(depth)
        )
        true_join = 5 * 2 + 3 * 4  # u1: 5x2, u2: 3x4
        assert est["join_size_est"] == ref
        assert est["join_size_est"] >= true_join  # never undercounts
        # disjoint key sets with a wide table: every row product is
        # collision-only; with width >> keys it reads 0
        dfc = spark.createDataFrame([("zz1",), ("zz2",)], "k string")
        wide = lambda df: profiling.cms_sketches(df, "k", depth=4, width=4096)
        disjoint = profiling.cms_join_size(wide(dfb), wide(dfc)).collect()[0]
        assert disjoint["join_size_est"] == 0
        import pytest as _pytest

        with _pytest.raises(ValueError, match="depth x width"):
            profiling.cms_join_size(sk(dfa), wide(dfb))
        # an empty side estimates 0 but must NOT misreport the other
        # side's ingest total (review finding r11)
        empty = profiling.cms_join_size(sk(dfa).limit(0), sk(dfb)).collect()[0]
        assert tuple(empty) == (0, 0, 13)

    def test_cms_pooled_geometry_probe_is_one_job_and_value_identical(self, spark):
        # r14 optimization pin (the _kmv_union_pooled analogue): both
        # sides' (geometry, N) probes ride ONE union-tagged aggregate —
        # one Spark job, one driver collect — and return exactly what
        # the sequential per-side probes return, including the empty
        # side and the per-side mixed-geometry raise.
        import pytest as _pytest

        from aws_data_wrangler_spark.operators import profiling

        dfa = spark.createDataFrame(
            [(k,) for k in ["u1"] * 5 + ["u2"] * 3] + [(None,)], "k string"
        )
        dfb = spark.createDataFrame([(k,) for k in ["u1"] * 2 + ["u4"]], "k string")
        ska = profiling.cms_sketches(dfa, "k", depth=3, width=16)
        skb = profiling.cms_sketches(dfb, "k", depth=3, width=16)
        sc = spark.sparkContext
        sc.setJobGroup("cms-pooled-probe", "cms-pooled-probe")
        pooled = profiling._cms_geometries_and_totals(ska, skb)
        n_pooled = len(sc.statusTracker().getJobIdsForGroup("cms-pooled-probe"))
        sc.setJobGroup("cms-seq-probe", "cms-seq-probe")
        seq = [
            profiling._cms_geometry_and_total(ska),
            profiling._cms_geometry_and_total(skb),
        ]
        n_seq = len(sc.statusTracker().getJobIdsForGroup("cms-seq-probe"))
        sc.setJobGroup(None, None)
        # AQE materializes each shuffle stage as its own job, so "one
        # collect" is not literally one job on unmaterialized sketch
        # plans — but the pooled probe must beat two sequential probes
        assert n_pooled < n_seq, f"pooled {n_pooled} jobs !< sequential {n_seq}"
        assert pooled == seq
        assert pooled == [((3, 16), 8), ((3, 16), 3)]  # NULL key excluded
        # empty side: (None, 0), the other side stays truthful
        assert profiling._cms_geometries_and_totals(ska.limit(0), skb) == [
            (None, 0),
            ((3, 16), 3),
        ]
        # mixed geometry WITHIN a side still raises (same message)
        mixed = ska.unionByName(
            profiling.cms_sketches(dfb, "k", depth=4, width=32)
        )
        with _pytest.raises(ValueError, match="depth x width"):
            profiling._cms_geometries_and_totals(mixed, skb)

    def test_approx_heavy_hitters_exact_regime_and_ties(self, spark):
        from aws_data_wrangler_spark.operators import profiling

        # NDV << max_items_tracked -> counts exact; count ties break by
        # value ascending (the raw sketch order is unspecified)
        df = spark.createDataFrame(
            [(v,) for v in ["hot"] * 6 + ["b"] * 3 + ["a"] * 3 + ["cold"]],
            "k string",
        )
        rows = profiling.approx_heavy_hitters(df, "k", k=3).collect()
        assert [(r["value"], r["n_est"], r["rank"]) for r in rows] == [
            ("hot", 6, 1), ("a", 3, 2), ("b", 3, 3),
        ]
        # agrees with the exact profile on a planted-skew key
        skew = spark.range(1000).select(
            F.when(F.col("id") % 2 == 0, "heavy").otherwise(F.col("id").cast("string")).alias("k")
        )
        top = profiling.approx_heavy_hitters(skew, "k", k=1).collect()[0]
        assert top["value"] == "heavy" and top["n_est"] == 500

    def test_null_profile_counts(self, spark):
        from aws_data_wrangler_spark.operators import profiling

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a"), (4, None)], "id long, v string"
        )
        prof = {r["column"]: r.asDict() for r in profiling.null_profile(df).collect()}
        assert prof["v"]["n_null"] == 2 and prof["v"]["n_distinct"] == 1
        assert prof["id"]["n_null"] == 0 and prof["id"]["n_distinct"] == 4
        assert abs(prof["v"]["null_share"] - 0.5) < 1e-9

    def test_numeric_profilers_accept_int_and_decimal_columns(self, spark):
        # the profilers must treat EVERY numeric dtype uniformly: longs,
        # ints, and decimals flow through the same exact accumulators
        from decimal import Decimal

        from aws_data_wrangler_spark.operators import profiling

        df = spark.createDataFrame(
            [(1, 10, Decimal("1.50")), (2, 20, Decimal("2.50")),
             (3, 30, Decimal("3.50"))],
            "i long, j int, d decimal(10,2)",
        )
        prof = {r["column"]: r.asDict() for r in profiling.numeric_summary(df).collect()}
        assert set(prof) == {"i", "j", "d"}
        assert prof["j"]["mean"] == 20.0 and prof["d"]["mean"] == 2.5
        assert prof["i"]["min"] == 1.0 and prof["i"]["max"] == 3.0
        corr = {(r["col_a"], r["col_b"]): r["corr"]
                for r in profiling.column_correlations(df).collect()}
        # all three columns are exact linear transforms of each other
        assert corr[("i", "j")] == 1.0 and corr[("i", "d")] == 1.0
        hist = profiling.numeric_histogram(df, "j", bins=2).collect()
        assert [r["n"] for r in sorted(hist, key=lambda r: r["bin"])] == [1, 2]

    def test_numeric_histogram_hand_values(self, spark):
        import pytest

        from aws_data_wrangler_spark.operators import profiling

        # values over [0, 9] into 3 buckets of width 3; max value clamps
        # into the last bucket; an empty middle bucket stays visible
        df = spark.createDataFrame(
            [(float(v),) for v in [0, 1, 2, 8, 9, 9]], "x double"
        )
        rows = {r["bin"]: r for r in profiling.numeric_histogram(df, "x", bins=3).collect()}
        assert len(rows) == 3
        assert rows[0]["n"] == 3   # [0, 3) = {0, 1, 2}
        assert rows[1]["n"] == 0   # [3, 6) — empty but present
        assert rows[2]["n"] == 3   # [6, 9] incl. the clamped max
        assert rows[0]["lo"] == 0.0 and rows[2]["hi"] == 9.0
        # constant column → everything in bin 0
        const = spark.createDataFrame([(5.0,), (5.0,)], "x double")
        c = {r["bin"]: r["n"] for r in profiling.numeric_histogram(const, "x", bins=4).collect()}
        assert c == {0: 2, 1: 0, 2: 0, 3: 0}
        # all-null column → empty spine, no crash
        nulls = spark.createDataFrame([(None,), (None,)], "x double")
        z = profiling.numeric_histogram(nulls, "x", bins=2).collect()
        assert [r["n"] for r in z] == [0, 0]
        with pytest.raises(ValueError, match="bins"):
            profiling.numeric_histogram(df, "x", bins=0)
        # NaN/inf are EXCLUDED, not edge-poisoning: Spark's max() sorts
        # NaN largest, which used to make every bucket edge NaN and
        # crash the driver-side floor
        dirty = spark.createDataFrame(
            [(1.0,), (2.0,), (float("nan"),), (float("inf"),), (float("-inf"),)],
            "x double",
        )
        d = {r["bin"]: r for r in profiling.numeric_histogram(dirty, "x", bins=2).collect()}
        assert d[0]["n"] + d[1]["n"] == 2  # only the finite values
        assert d[0]["lo"] == 1.0 and d[1]["hi"] == 2.0

    def test_column_correlations_hand_values(self, spark):
        import math

        from aws_data_wrangler_spark.operators import profiling

        # y = 2x exactly → r = 1; z anti-correlates; c constant → NULL;
        # the row with a NULL drops listwise (every pair shares one n)
        rows = [
            (1.0, 2.0, 9.0, 5.0),
            (2.0, 4.0, 7.0, 5.0),
            (3.0, 6.0, 4.0, 5.0),
            (4.0, 8.0, 1.0, 5.0),
            (None, 1.0, 1.0, 5.0),
        ]
        df = spark.createDataFrame(rows, "x double, y double, z double, c double")
        out = {
            (r["col_a"], r["col_b"]): r
            for r in profiling.column_correlations(df).collect()
        }
        assert len(out) == 6 and all(r["n"] == 4 for r in out.values())
        assert out[("x", "y")]["corr"] == 1.0
        assert out[("x", "z")]["corr"] <= -0.99
        assert out[("x", "c")]["corr"] is None  # zero variance
        # hand Pearson for (x, z)
        xs, zs = [1.0, 2.0, 3.0, 4.0], [9.0, 7.0, 4.0, 1.0]
        n = 4
        sx, sz = sum(xs), sum(zs)
        sxx, szz = sum(v * v for v in xs), sum(v * v for v in zs)
        sxz = sum(a * b for a, b in zip(xs, zs))
        want = (n * sxz - sx * sz) / math.sqrt(
            (n * sxx - sx * sx) * (n * szz - sz * sz)
        )
        assert out[("x", "z")]["corr"] == math.floor(want * 1e6) / 1e6
        # exact decimal moments: partition-count-invariant
        re = {
            (r["col_a"], r["col_b"]): r["corr"]
            for r in profiling.column_correlations(df.repartition(5)).collect()
        }
        assert re == {k: v["corr"] for k, v in out.items()}

    def test_overflowed_exact_sum_raises_actionable_error(self, spark):
        # ADVICE r8: under non-ANSI Spark a decimal(38,12) sum overflow
        # returns NULL; the driver-side conversion must name the
        # overflowing column and the headroom instead of float(None)'s
        # opaque TypeError (under ANSI — this repo's default — Spark
        # itself raises a clear SparkArithmeticException earlier)
        import pytest as _pytest

        from aws_data_wrangler_spark.operators import profiling

        df = spark.createDataFrame(
            [(float(9e11),)] * 150, "big double"
        )
        prev = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            with _pytest.raises(ValueError, match="big.*headroom"):
                profiling.numeric_summary(df)
            with _pytest.raises(ValueError, match="headroom"):
                profiling.column_correlations(
                    df.selectExpr("big", "big AS big2")
                )
        finally:
            spark.conf.set("spark.sql.ansi.enabled", prev)

    def test_numeric_summary_matches_hand_moments(self, spark):
        import math

        from aws_data_wrangler_spark.operators import profiling

        vals = [1.25, 2.5, None, 4.0, 10.0]
        df = spark.createDataFrame(
            [(i, v, 7) for i, v in enumerate(vals)], "id long, x double, c long"
        )
        prof = {r["column"]: r.asDict() for r in profiling.numeric_summary(df).collect()}
        xs = [v for v in vals if v is not None]
        n = len(xs)
        s1, s2 = sum(xs), sum(v * v for v in xs)
        assert prof["x"]["n_rows"] == 5 and prof["x"]["n_null"] == 1
        assert prof["x"]["min"] == 1.25 and prof["x"]["max"] == 10.0
        assert prof["x"]["mean"] == math.floor(s1 / n * 1e6) / 1e6
        want_std = math.sqrt((s2 - s1 * s1 / n) / (n - 1))
        assert prof["x"]["stddev"] == math.floor(want_std * 1e6) / 1e6
        # constant column: zero variance (never negative-clamped NaN)
        assert prof["c"]["stddev"] == 0.0 and prof["c"]["mean"] == 7.0
        # numeric-column default selection skips nothing numeric
        assert set(prof) == {"id", "x", "c"}
        # exact decimal sums: the profile is partition-count-invariant
        re = {r["column"]: r.asDict()
              for r in profiling.numeric_summary(df.repartition(7)).collect()}
        assert re == prof
        # all-null column profiles with null moments
        nulls = spark.createDataFrame([(None,), (None,)], "y double")
        p = profiling.numeric_summary(nulls).collect()[0]
        assert p["n_null"] == 2 and p["mean"] is None and p["stddev"] is None


class TestQualityClassifier:
    def test_md5_token_hash_matches_python_replica(self, spark):
        # the oracle-replicable feature hash: md5-prefix mod space,
        # bigrams joined by the 0x1f unit separator; within-doc distinct
        import hashlib
        import math

        from aws_data_wrangler_spark.operators import classifier

        nf = 64
        df = spark.createDataFrame(
            [(1, "red blue red"), (2, "  solo  ")], "doc_id long, text string"
        )

        def h(tok):
            return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % nf

        got = {
            (r["doc_id"], r["feature"])
            for r in classifier.hashed_features(
                df, num_features=nf, use_bigrams=True, token_hash="md5"
            ).collect()
        }
        want = set()
        for doc_id, text in [(1, "red blue red"), (2, "solo")]:
            t = text.split()
            feats = [h(x) for x in t] + [
                h(a + "\x1f" + b) for a, b in zip(t, t[1:])
            ]
            want |= {(doc_id, f) for f in feats}
        assert got == want
        import pytest

        with pytest.raises(ValueError, match="token_hash"):
            classifier.hashed_features(df, token_hash="sha9000")
        # pinned-weight inference: margin = exact dyadic sum → sigmoid
        weights = spark.createDataFrame(
            [(h("red"), 0.25), (h("blue"), -0.5), (h("red\x1fblue"), 0.125),
             (h("blue\x1fred"), 0.0), (h("solo"), 2.0)],
            "feature long, weight double",
        )
        model = classifier.QualityClassifier(weights, 0.0, nf, True, "md5")
        probs = {
            r["doc_id"]: r["quality_prob"]
            for r in classifier.score_quality(df, model).collect()
        }
        m1 = 0.25 - 0.5 + 0.125 + 0.0
        assert probs[1] == math.floor(1.0 / (1.0 + math.exp(-m1)) * 1e6) / 1e6
        assert probs[2] == math.floor(1.0 / (1.0 + math.exp(-2.0)) * 1e6) / 1e6

    def test_learns_planted_rule_and_scores_holdout(self, spark):
        # planted separable rule: positives carry "goodtok", negatives
        # "badtok" among shared filler — hashed-bigram LR must reach
        # near-perfect holdout accuracy in a few full-batch iterations,
        # and the deterministic mini-batch path must match
        import random

        from aws_data_wrangler_spark.operators import classifier

        random.seed(7)
        filler = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
        rows = []
        for i in range(240):
            toks = random.choices(filler, k=16)
            y = i % 2
            toks.insert(random.randrange(16), "goodtok" if y else "badtok")
            rows.append((i, " ".join(toks), y))
        docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
        train = docs.filter(F.col("doc_id") % 5 != 0)
        test = docs.filter(F.col("doc_id") % 5 == 0)
        model = classifier.train_quality_classifier(train, "label", iterations=8)
        assert model.num_features == 1 << 18 and model.use_bigrams
        acc = (
            classifier.score_quality(test, model)
            .select(
                (((F.col("quality_prob") > 0.5).cast("int") == F.col("label")).cast("int")).alias("ok")
            )
            .agg(F.avg("ok"))
            .collect()[0][0]
        )
        assert acc >= 0.95
        # deterministic mini-batches: hash-sampled per iteration
        mb = classifier.train_quality_classifier(
            train, "label", iterations=8, batch_fraction=0.5
        )
        acc_mb = (
            classifier.score_quality(test, mb)
            .select(
                (((F.col("quality_prob") > 0.5).cast("int") == F.col("label")).cast("int")).alias("ok")
            )
            .agg(F.avg("ok"))
            .collect()[0][0]
        )
        assert acc_mb >= 0.95

    @staticmethod
    def _planted_docs(n, pos_frac, seed=11):
        import random

        random.seed(seed)
        filler = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
        n_pos = int(n * pos_frac)
        rows = []
        for i in range(n):
            toks = random.choices(filler, k=16)
            y = 1 if i < n_pos else 0
            toks.insert(random.randrange(16), "goodtok" if y else "badtok")
            rows.append((i, " ".join(toks), y))
        random.shuffle(rows)
        return [(j, t, y) for j, (_, t, y) in enumerate(rows)]

    @staticmethod
    def _holdout_acc(classifier, train, test, **kwargs):
        model = classifier.train_quality_classifier(train, "label", **kwargs)
        return (
            classifier.score_quality(test, model)
            .select(
                (((F.col("quality_prob") > 0.5).cast("int") == F.col("label")).cast("int")).alias("ok")
            )
            .agg(F.avg("ok"))
            .collect()[0][0]
        )

    def test_learns_under_class_imbalance(self, spark):
        # 1:10 imbalance — the realistic quality-filter regime (most of
        # a crawl is junk): the planted rule must still be learned with
        # holdout accuracy >= 0.9 on BOTH classes, not just the majority
        from aws_data_wrangler_spark.operators import classifier

        rows = self._planted_docs(440, pos_frac=1 / 11)
        docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
        train = docs.filter(F.col("doc_id") % 5 != 0)
        test = docs.filter(F.col("doc_id") % 5 == 0)
        model = classifier.train_quality_classifier(
            train, "label", iterations=12, class_weight="balanced"
        )
        scored = classifier.score_quality(test, model).select(
            "label",
            (((F.col("quality_prob") > 0.5).cast("int") == F.col("label")).cast("int")).alias("ok"),
        )
        per_class = {
            r["label"]: r["acc"]
            for r in scored.groupBy("label").agg(F.avg("ok").alias("acc")).collect()
        }
        assert per_class[0] >= 0.9 and per_class[1] >= 0.9, per_class

    def test_null_labels_dropped_and_single_class_refused(self, spark):
        # NULL labels are unlabeled documents, not class-0 examples:
        # training must drop them (not crash on float(None)) and a
        # label column with only one class must raise, never silently
        # fit a degenerate scorer
        import pytest as _pytest

        from aws_data_wrangler_spark.operators import classifier

        rows = self._planted_docs(120, pos_frac=0.5)
        docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
        with_nulls = docs.withColumn(
            "label", F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("label"))
        )
        model = classifier.train_quality_classifier(
            with_nulls, "label", iterations=4, class_weight="balanced"
        )
        assert model.weights.count() > 0
        for bad in (
            docs.filter(F.col("label") == 1),
            docs.withColumn("label", F.lit(None).cast("int")),
        ):
            with _pytest.raises(ValueError, match="single-class|no non-NULL"):
                classifier.train_quality_classifier(bad, "label", iterations=2)

    def test_regularization_path_shrinks_weights(self, spark):
        # the l2 knob must actually regularize: heavier decay -> smaller
        # weight norm, and extreme decay destroys the fit while the
        # default keeps it — the monotone path that proves the penalty
        # is wired into the update, not a dead parameter
        from aws_data_wrangler_spark.operators import classifier

        rows = self._planted_docs(240, pos_frac=0.5)
        docs = spark.createDataFrame(rows, "doc_id long, text string, label int")
        train = docs.filter(F.col("doc_id") % 5 != 0)
        test = docs.filter(F.col("doc_id") % 5 == 0)
        norms, accs = {}, {}
        for l2 in (1e-6, 1e-2, 0.4):
            model = classifier.train_quality_classifier(
                train, "label", iterations=8, l2=l2
            )
            norms[l2] = model.weights.agg(
                F.sum(F.col("weight") * F.col("weight"))
            ).collect()[0][0]
            accs[l2] = (
                classifier.score_quality(test, model)
                .select(
                    (((F.col("quality_prob") > 0.5).cast("int") == F.col("label")).cast("int")).alias("ok")
                )
                .agg(F.avg("ok"))
                .collect()[0][0]
            )
        assert norms[1e-6] > norms[1e-2] > norms[0.4], norms
        assert accs[1e-6] >= 0.95, accs
        assert accs[0.4] <= accs[1e-6], accs


class TestTemperatureAtStratumScale:
    def test_thresholds_match_python_at_2000_strata(self, spark):
        # the r12 rewrite's reason to exist: per-registered-domain
        # mixing has millions of strata. 2000 strata through the
        # DISTRIBUTED path must (a) produce fractions bit-identical to
        # the python convention for every stratum, (b) keep the plan
        # collect-free and broadcast-shaped (the codegen-safe join,
        # never a stratum-cardinality CASE)
        import struct

        from aws_data_wrangler_spark.operators import sampling

        counts = {f"domain{i:04d}.com": (i % 97) + 1 for i in range(2000)}
        cdf = spark.createDataFrame(
            list(counts.items()), "source string, n long"
        )
        got = {
            r["source"]: r["fraction"]
            for r in sampling.temperature_thresholds(cdf, alpha=0.5).collect()
        }
        want = sampling.temperature_fractions(counts, alpha=0.5)
        assert len(got) == 2000
        for s, f in want.items():
            assert struct.pack("<d", got[s]) == struct.pack("<d", f), s
        # the corpus-side filter stays one broadcast join at this
        # cardinality — the threshold table rides the build side
        docs = spark.range(4000).selectExpr(
            "id AS doc_id", "concat('domain', lpad(id % 2000, 4, '0'), '.com') AS source"
        )
        kept = sampling.temperature_sample(docs, strata_col="source", alpha=0.5)
        plan = kept._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert plan.count("Exchange hashpartitioning") == 1

    def test_thresholds_survive_trillion_row_strata(self, spark):
        # r12 deep-fuzz regression: the former F.floor(double)->bigint
        # funnel overflowed (ANSI: raised) for alpha=1.0 strata past
        # ~9.2e12 rows and for corpus totals past 9.2e18 — the
        # trillion-row-stratum regime of a 100 TB corpus. The decimal
        # path must be crash-free at bigint-extreme counts, and
        # alpha=0.5 (the guaranteed form: scaled weight < 2^53 for ANY
        # bigint n) stays BIT-exact against the python twin there
        import struct

        from aws_data_wrangler_spark.operators import sampling

        counts = {
            "web": 9_000_000_000_000_000_000,  # near bigint max
            "code": 450_375_816_465_067_227,
            "books": 123_456_789_012_345,
            "tiny": 7,
        }
        cdf = spark.createDataFrame(list(counts.items()), "source string, n long")
        for alpha in (0.5, 1.0):
            got = {
                r["source"]: r["fraction"]
                for r in sampling.temperature_thresholds(
                    cdf, alpha=alpha
                ).collect()
            }
            assert set(got) == set(counts)  # no overflow, every stratum out
        want = sampling.temperature_fractions(counts, alpha=0.5)
        got = {
            r["source"]: r["fraction"]
            for r in sampling.temperature_thresholds(cdf, alpha=0.5).collect()
        }
        for s in want:
            assert struct.pack("<d", got[s]) == struct.pack("<d", want[s]), s
