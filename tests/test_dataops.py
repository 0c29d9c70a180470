"""Training-data operator tests: dedup, textops, simsearch, multimodal.

Cross-engine value correctness is covered by the DuckDB oracle gate
(tools/check_oracle.py); these tests pin the operator SEMANTICS —
representatives kept, candidates found, shapes, recall structure.
"""

import pytest
from pyspark.sql import functions as F

from ngxspark.dedup import (
    dedup_exact,
    exact_dup_groups,
    lsh_candidate_groups,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_near_dup_pairs,
)
from ngxspark.multimodal import extract_features, frame_sample_plan, synthesize_media
from ngxspark.simsearch import brute_force_topk, lsh_ann_topk, lsh_cosine_pairs
from ngxspark.textops import doc_stats


@pytest.fixture(scope="module")
def docs(spark):
    base = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different content here about spark engines"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "short text"),
        (5, ""),
    ]
    return spark.createDataFrame(base, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = exact_dup_groups(docs).collect()
    assert len(groups) == 1 and groups[0].n_docs == 2 and groups[0].keep_id == 0
    kept = dedup_exact(docs)
    assert kept.count() == 5
    assert kept.filter("doc_id = 3").count() == 0  # min-id representative wins


def test_dedup_priority_source_rule(spark, docs):
    """Pile/Dolma cross-source rule: lowest priority wins regardless of
    id; ties fall back to min id; constant priority degrades to
    dedup_exact's min-id choice."""
    from ngxspark.dedup import dedup_priority

    prio = {0: 5, 1: 1, 3: 2, 4: 1, 2: 1, 5: 1}
    df = docs.withColumn(
        "priority",
        F.element_at(
            F.create_map(*[F.lit(x) for kv in prio.items() for x in kv]),
            F.col("doc_id").cast("int"),
        ),
    )
    kept = {r.doc_id for r in dedup_priority(df).collect()}
    # dup group {0,3}: doc 3 has the lower priority → beats min-id doc 0
    assert 3 in kept and 0 not in kept
    assert kept == {1, 2, 3, 4, 5}

    # constant priority → identical survivor set to dedup_exact
    flat = docs.withColumn("priority", F.lit(7))
    kept_flat = {r.doc_id for r in dedup_priority(flat).collect()}
    assert kept_flat == {r.doc_id for r in dedup_exact(docs).collect()}

    # tie on priority inside the dup group → min id survives
    tied = docs.withColumn("priority", F.when(F.col("doc_id").isin(0, 3), 9).otherwise(1))
    kept_tied = {r.doc_id for r in dedup_priority(tied).collect()}
    assert 0 in kept_tied and 3 not in kept_tied


def test_cluster_representatives_policy(spark):
    """Per-cluster argmax(score, tie → min id): quality overrides min-id,
    ties fall back to min id, singletons keep themselves, exactly one
    keep per cluster."""
    from ngxspark.dedup import cluster_representatives

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3), (4, 3), (5, 5)],
        "doc_id long, cluster_id long",
    )
    scored = spark.createDataFrame(
        [(1, 0.4), (2, 0.9), (3, 0.7), (4, 0.7), (5, 0.1)],
        "doc_id long, score double",
    )
    out = {r.doc_id: r.keep for r in cluster_representatives(clusters, scored).collect()}
    assert out == {1: False, 2: True, 3: True, 4: False, 5: True}


def test_incremental_lsh_dedup_gate(spark):
    """Fuzzy ingestion-gate pins: corpus near-dups and exact copies drop,
    unrelated docs and within-batch exact firsts survive, and two
    batch-internal NEAR-dups (not near corpus) BOTH survive — the gate
    dedupes against the corpus, not within the batch (that's
    connected_components' post-acceptance job)."""
    from ngxspark.dedup import incremental_lsh_dedup

    base = "the quick brown fox jumps over the lazy dog every single day"
    corpus = spark.createDataFrame(
        [(0, base), (1, "completely different corpus content about engines")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base + " again"),                       # near-dup of corpus 0 → drop
            (11, base),                                  # exact copy of corpus 0 → drop
            (12, "fresh unrelated text about mountains and rivers flowing"),
            (13, "fresh unrelated text about mountains and rivers flowing"),  # batch exact dup → drop
            (14, "novel sentence with many distinct tokens appearing here once"),
            (15, "novel sentence with many distinct tokens appearing there once"),  # near-dup of 14 only
        ],
        "doc_id long, text string",
    )
    kept = {r.doc_id for r in incremental_lsh_dedup(batch, corpus, threshold=0.5).collect()}
    assert kept == {12, 14, 15}


def test_lsh_candidates_find_near_dups(docs):
    cands = lsh_candidate_groups(docs).collect()
    # exact dups (0,3) share every band; near-dups (0,1) share most shingles
    pairs = {(r.min_id, r.max_id) for r in cands}
    assert any(a == 0 and b == 3 for a, b in pairs)


def test_ngram_jaccard(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    assert pairs[(0, 3)] == 1.0
    assert 0.5 < pairs[(0, 1)] < 1.0
    assert (0, 2) not in pairs


def test_simhash_properties(docs):
    sigs = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    assert sigs[0] == sigs[3]  # identical text → identical fingerprint
    assert all(0 <= v < (1 << 16) for v in sigs.values())
    near = simhash_near_dup_pairs(docs, max_hamming=3).collect()
    assert any(r.id_a == 0 and r.id_b == 3 and r.hamming == 0 for r in near)


def test_repetition_stats_values(spark):
    """Gopher repetition signals on planted docs: a degenerate loop scores
    high dup fractions, clean prose scores ~0, symbol soup scores high
    symbol ratio."""
    from ngxspark.textops import repetition_stats

    df = spark.createDataFrame(
        [
            (0, "spam spam spam spam spam spam"),  # 5 identical 2-grams
            (1, "the quick brown fox jumps over lazy dogs"),
            (2, "!!! ??? $$$ %%%"),
            (3, ""),  # empty-safe
        ],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in repetition_stats(df).collect()}
    assert r[0].dup_2gram == 0.8  # 5 occurrences, 1 distinct → 4/5
    assert r[0].dup_3gram == 0.75
    assert r[1].dup_2gram == 0.0 and r[1].dup_3gram == 0.0
    assert r[2].symbol_ratio == 3.0  # 12 symbols / 4 tokens
    assert r[3].dup_2gram == 0.0 and r[3].symbol_ratio == 0.0


def test_gopher_filters_rule_boundaries(spark):
    """Each Gopher rule flips the keep verdict on a planted doc while the
    others hold: word-count band, mean word length, symbol ratio,
    alpha-word fraction, stopword minimum, dup-gram caps."""
    from ngxspark.textops import gopher_filters

    good = "the quick brown fox jumps over that lazy dog and runs for the warm sun"
    docs = [
        (0, good),  # passes everything at min_words=5
        (1, "cat dog"),  # too few words
        (2, "the " + "supercalifragilistic " * 9 + "of"),  # mean word len > 10
        (3, "the !! ?? $$ %% ^^ && ** (( )) of word"),  # symbol ratio > 0.1
        (4, "the 1 2 3 4 5 6 7 8 9 10 11 of"),  # alpha fraction < 0.8
        (5, "cat dog ran sat sun fun big red hot car"),  # 0 stopwords
        (6, "the spam ham " * 8 + "of"),  # dup 2-gram over cap
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    r = {x.doc_id: x for x in gopher_filters(df, min_words=5).collect()}
    assert r[0].keep == 1
    assert all(r[i].keep == 0 for i in range(1, 7)), {
        i: (r[i].keep, r[i]) for i in range(1, 7)
    }
    assert r[1].n_words == 2
    assert r[2].mean_word_len > 10
    assert r[3].symbol_ratio > 0.1
    assert r[4].alpha_word_ratio < 0.8
    assert r[5].stop_hits == 0
    assert r[6].dup_2gram > 0.20


def test_ngram_topk_occurrence_vs_doc_spread(spark):
    """WIMBD audit semantics: a within-doc degeneration shows high
    occurrences / low n_docs; cross-doc boilerplate shows n_docs == its
    occurrences; ties at the k-cut break on the gram string."""
    from ngxspark.textops import ngram_topk

    docs = [
        (0, "spam ham spam ham spam ham spam ham"),  # 'spam ham' 4x in ONE doc
        (1, "alpha beta gamma"),
        (2, "alpha beta delta"),
        (3, "alpha beta omega"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    r = {x.gram: x for x in ngram_topk(df, n=2, k=10).collect()}
    assert r["spam ham"].occurrences == 4 and r["spam ham"].n_docs == 1
    assert r["alpha beta"].occurrences == 3 and r["alpha beta"].n_docs == 3
    top2 = ngram_topk(df, n=2, k=2).collect()
    assert [t.gram for t in top2] == ["spam ham", "alpha beta"]


def test_ccnet_normalize_matches_python_reference(spark):
    """Seeded randomized differential for the normalization kernel:
    Spark's chained regexp_replace == a from-scratch Python re reference
    on 300 adversarial strings (regex metachars, digit runs, unicode,
    whitespace runs, empties)."""
    import random
    import re

    from ngxspark.dedup import ccnet_normalize

    def ref(s: str) -> str:
        x = s.lower()
        x = re.sub(r"[0-9]", "0", x)
        x = re.sub(r"[^a-z0-9 ]", "", x)
        x = re.sub(r" +", " ", x)
        return x.strip()

    rng = random.Random(20260818)
    alphabet = list("abcXYZ0189  .,!?$^[](){}|\\*+-_\"'~\t\n") + ["é", "Ж", "🌉", "ß"]
    cases = [(i, "".join(rng.choice(alphabet) for _ in range(rng.randrange(0, 60))))
             for i in range(300)]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    got = {
        r.doc_id: r.n
        for r in df.select("doc_id", ccnet_normalize(F.col("text")).alias("n")).collect()
    }
    for i, s in cases:
        assert got[i] == ref(s), (i, repr(s), repr(got[i]), repr(ref(s)))


def test_dedup_normalized_catches_variants_exact_misses(spark):
    """CCNet normalization clusters case / digit / punctuation variants
    under one digest — variants that plain exact dedup provably leaves
    apart — while genuinely distinct texts stay separate."""
    from ngxspark.dedup import dedup_normalized, exact_dup_groups

    docs = [
        (0, "the quick brown fox 42"),
        (1, "THE QUICK BROWN FOX 42"),  # case variant
        (2, "the quick brown fox 77!!"),  # digit + punct variant
        (3, "the  quick   brown fox 42"),  # whitespace variant
        (4, "a completely different doc"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    r = {x.doc_id: x for x in dedup_normalized(df).collect()}
    assert [r[i].cluster_id for i in range(5)] == [0, 0, 0, 0, 4]
    assert [r[i].keep for i in range(5)] == [True, False, False, False, True]
    # plain exact dedup sees NO duplicate groups here
    assert exact_dup_groups(df).count() == 0


def test_quality_signals_match_component_operators(spark):
    """The one-pass signal table must be VALUE-identical to running
    doc_stats, repetition_stats, and gopher_filters separately — same
    formulas over once-materialized arrays."""
    from ngxspark.textops import (
        doc_stats,
        gopher_filters,
        quality_signals,
        repetition_stats,
    )

    docs = [
        (0, "the quick brown fox jumps over that lazy dog and runs for fun"),
        (1, "spam spam spam spam spam"),
        (2, "!!! ??? $$$"),
        (3, ""),
        (4, "the " + "word " * 30 + "of it"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    wide = {r.doc_id: r for r in quality_signals(df).collect()}
    ds = {r.doc_id: r for r in doc_stats(df).collect()}
    rs = {r.doc_id: r for r in repetition_stats(df).collect()}
    gf = {r.doc_id: r for r in gopher_filters(df).collect()}
    for i in wide:
        assert wide[i].n_tokens == ds[i].n_tokens
        assert wide[i].n_word_tokens == ds[i].n_word_tokens
        assert wide[i].stopword_ratio == ds[i].stopword_ratio
        assert wide[i].alpha_ratio == ds[i].alpha_ratio
        assert wide[i].quality == ds[i].quality
        assert wide[i].lang_pred == ds[i].lang_pred
        assert wide[i].fingerprint == ds[i].fingerprint
        assert wide[i].dup_2gram == rs[i].dup_2gram
        assert wide[i].dup_3gram == rs[i].dup_3gram
        assert wide[i].symbol_ratio == rs[i].symbol_ratio
        assert wide[i].chars_per_distinct_token == rs[i].chars_per_distinct_token
        assert wide[i].mean_word_len == gf[i].mean_word_len
        assert wide[i].alpha_word_ratio == gf[i].alpha_word_ratio
        assert wide[i].stop_hits == gf[i].stop_hits


def test_d4_prune_semantics(spark):
    """D4 on a hand-built single-cell geometry: the exact duplicate is
    removed by the SemDeDup stage (proto_rank 0 — never ranked); the most
    PROTOTYPICAL survivor (the centroid vector itself) is cut by the
    25% prototype rule (7 survivors → drop_n = 1); everyone else keeps.
    Ranks follow cosine-to-centroid descending."""
    from ngxspark.simsearch import d4_prune

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),  # centroid (seeded: first by id)
        (1, [1.0, 0.0, 0.0, 0.0]),  # exact duplicate of 0
        (2, [2.0, 1.0, 0.0, 0.0]),  # cos .894
        (3, [1.0, 1.0, 0.0, 0.0]),  # cos .707
        (4, [1.0, 2.0, 0.0, 0.0]),  # cos .447
        (5, [1.0, 0.0, 3.0, 0.0]),  # cos .316
        (6, [1.0, 0.0, 0.0, 4.0]),  # cos .243
        (7, [0.0, 1.0, 1.0, 1.0]),  # cos 0
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    r = {x.vec_id: x for x in d4_prune(df, n_centroids=1, dim=4).collect()}
    assert not r[1].sem_keep and r[1].proto_rank == 0 and not r[1].keep
    assert r[0].sem_keep and r[0].proto_rank == 1 and not r[0].keep  # prototype cut
    assert [r[i].proto_rank for i in (2, 3, 4, 5, 6, 7)] == [2, 3, 4, 5, 6, 7]
    assert all(r[i].keep for i in (2, 3, 4, 5, 6, 7))
    assert r[0].proto_sim == 1.0 and r[2].proto_sim == round(2 / 5**0.5, 6)


def test_bm25_matches_float_reference(spark):
    """Differential: the fixed-point BIGINT BM25 matches a from-scratch
    float Okapi BM25 (k1=1.2, b=0.75) — same ranking, scores within the
    floor-scaling error; docs matching no query term never appear."""
    import math

    from ngxspark.retrieval import bm25_topk

    docs = [
        (0, "spark join spark join spark"),
        (1, "spark shuffle merge sort"),
        (2, "join join join hash"),
        (3, "vector stream window"),  # matches nothing
        (4, "spark join hash merge sort stream window vector batch line"),
    ]
    queries = {7: ["spark", "join"], 8: ["hash"]}
    got = bm25_topk(
        spark.createDataFrame(docs, "doc_id long, text string"), queries, k=5
    ).collect()

    texts = {i: t.split(" ") for i, t in docs}
    N = len(docs)
    T = sum(len(v) for v in texts.values())
    avgdl = T / N

    def idf(term):
        df = sum(1 for v in texts.values() if term in v)
        return math.log((N - df + 0.5) / (df + 0.5) + 1.0)

    def score(qterms, toks):
        s = 0.0
        for t in qterms:
            tf = toks.count(t)
            if tf:
                s += idf(t) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len(toks) / avgdl))
        return s

    ref = {}
    for qid, qt in queries.items():
        hits = [(i, score(qt, v)) for i, v in texts.items() if score(qt, v) > 0]
        hits.sort(key=lambda x: (-x[1], x[0]))
        ref[qid] = hits
    assert [(r.query_id, r.doc_id) for r in got] == [
        (qid, i) for qid in sorted(ref) for i, _ in ref[qid]
    ]
    for r in got:
        want = dict(ref[r.query_id])[r.doc_id]
        assert abs(r.score - want) < 1e-5, (r, want)
    assert all(r.doc_id != 3 for r in got)


def test_bm25_randomized_differential(spark):
    """Seeded randomized differential: 80 random docs (Zipf-ish vocab,
    varying lengths incl. repeats) × 6 random multi-term queries — the
    Spark fixed-point ranking must equal a from-scratch float BM25's
    ranking exactly, scores within the floor-scaling error."""
    import math
    import random

    from ngxspark.retrieval import bm25_topk

    rng = random.Random(20260817)
    vocab = [f"w{i}" for i in range(12)]
    docs = [
        (
            i,
            " ".join(
                rng.choice(vocab[: 3 + rng.randrange(9)])
                for _ in range(rng.randrange(3, 40))
            ),
        )
        for i in range(80)
    ]
    queries = {
        q: rng.sample(vocab, rng.randrange(1, 4)) for q in range(1, 7)
    }
    got = bm25_topk(
        spark.createDataFrame(docs, "doc_id long, text string"), queries, k=7
    ).collect()

    texts = {i: t.split(" ") for i, t in docs}
    N = len(docs)
    avgdl = sum(len(v) for v in texts.values()) / N

    def idf(term):
        df = sum(1 for v in texts.values() if term in v)
        return math.log((N - df + 0.5) / (df + 0.5) + 1.0)

    def score(qterms, toks):
        return sum(
            idf(t) * toks.count(t) * 2.2
            / (toks.count(t) + 1.2 * (0.25 + 0.75 * len(toks) / avgdl))
            for t in qterms
            if t in toks
        )

    ref = []
    for qid in sorted(queries):
        hits = [
            (i, score(queries[qid], v))
            for i, v in texts.items()
            if score(queries[qid], v) > 0
        ]
        hits.sort(key=lambda x: (-x[1], x[0]))
        ref.extend((qid, i, s) for i, s in hits[:7])
    assert [(r.query_id, r.doc_id) for r in got] == [(q, i) for q, i, _ in ref]
    for r, (_, _, want) in zip(got, ref):
        # floor error: <= 1e-6 idf + 1e-6 div per term, <= 3 terms
        assert abs(r.score - want) < 1e-5, (r, want)


def test_winnowing_guarantee_and_python_reference(spark):
    """(a) MOSS guarantee: two docs sharing a substring of length
    >= k+w-1 MUST share a fingerprint; disjoint docs share none.
    (b) Differential: Spark fingerprints == a from-scratch Python
    implementation of k-gram hashing + window-min selection."""
    import hashlib

    from ngxspark.dedup import winnow_fingerprints

    k, w = 8, 4
    shared = "UNIQUESHAREDBLOCK"  # len 17 >= k+w-1 = 11
    docs = [
        (0, f"alpha beta {shared} gamma delta"),
        (1, f"omega psi chi {shared} phi"),
        (2, "totally unrelated content zzz qqq xxx www vvv"),
        (3, "ab"),  # shorter than k: zero k-grams, zero fingerprints
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict[int, set] = {i: set() for i, _ in docs}
    for r in winnow_fingerprints(df, k=k, w=w).collect():
        got[r.doc_id].add(r.fp)

    def ref(text: str) -> set:
        t = " ".join(text.lower().split())
        hs = [
            int(hashlib.md5(t[j : j + k].encode()).hexdigest()[:8], 16)
            for j in range(len(t) - k + 1)
        ]
        if not hs:
            return set()
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}

    for i, text in docs:
        assert got[i] == ref(text), f"doc {i}"
    assert got[0] & got[1], "shared 17-char block must share a fingerprint"
    assert not (got[0] & got[2]) and not (got[1] & got[2])
    assert got[3] == set()


def test_self_join_stage_reuse(spark):
    """Signatures/buckets must be computed ONCE per self-join (the
    repartition-on-join-key-BEFORE-aliasing invariant): the FINAL adaptive
    plan carries a ReusedExchange. Note Spark emits ReusedExchange here,
    not ReusedQueryStage — the latter reads 0 even when reuse fires."""
    import re

    from ngxspark import queries as Q

    qs = Q.queries()
    for name in ("lsh_verified_pairs", "simhash_pairs", "near_dup_cosine_multi", "simhash64_pairs"):
        df = qs[name](spark, "/root/testdata/sf0.001")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=false" not in plan, name
        assert len(re.findall(r"ReusedExchange", plan)) >= 1, name


# Registry queries whose optimized plan keeps plankit.materialize_once
# barriers, with the number of rand(26) guards each carries; every other
# registry query has none.
_MATERIALIZE_ONCE_BARRIERS = {
    "corpus_curation": 3,
    "dsir_sample": 1,
    "quality_classifier": 1,
    "simhash": 1,
    "simhash64": 1,
    "simhash64_pairs": 2,
    "simhash_pairs": 2,
}


@pytest.fixture(scope="module")
def registry_plans(spark):
    """{query: (optimized plan text, optimized plan JSON)} for every
    registry query at sf0.001 — built once, shared by the plan-shape
    tests below (building all 85 costs ~65 s on 4 cores)."""
    from ngxspark import queries as Q

    spark.conf.set("spark.sql.debug.maxToStringFields", "1000")
    try:
        plans = {}
        for name, fn in Q.queries().items():
            p = fn(spark, "/root/testdata/sf0.001")._jdf.queryExecution().optimizedPlan()
            plans[name] = (p.toString(), p.toJSON())
    finally:
        spark.conf.unset("spark.sql.debug.maxToStringFields")
    return plans


def test_materialize_once_barriers_survive_optimizer(registry_plans):
    """materialize_once is a rand(26) guard that keeps an expensive
    expression from being inlined into pushed-down filters, where it
    would run again per row. If a Spark upgrade folds the guard away, or
    a refactor drops it, the count of rand(26) in the optimized plan
    changes for the query that lost it."""
    counts = {name: text.count("rand(26)") for name, (text, _) in registry_plans.items()}
    assert {n: c for n, c in counts.items() if c} == _MATERIALIZE_ONCE_BARRIERS


# Expressions too costly to re-run once per array element.
_HEAVY_IN_LAMBDA = {"StringSplit", "Lower", "Md5", "RLike"}


def _lambda_invariant_heavy_calls(plan_json: str) -> set[str]:
    """Calls of split, regexp_*, lower or md5 inside a lambdafunction body
    whose operands read an outer attribute and no lambda variable. Such a
    call yields the same value for every element, but Catalyst does not
    CSE into a lambda body, so it runs once per element."""
    import json

    found = set()

    def build(flat, i):
        # toJSON lists an expression tree's nodes in pre-order
        node, kids, j = flat[i], [], i + 1
        for _ in range(node["num-children"]):
            kid, j = build(flat, j)
            kids.append(kid)
        return (node, kids), j

    def nodes(tree):
        yield tree[0]
        for kid in tree[1]:
            yield from nodes(kid)

    def check(tree, in_lambda):
        node, kids = tree
        cls = node["class"].rsplit(".", 1)[-1]
        if in_lambda and (cls in _HEAVY_IN_LAMBDA or cls.startswith("RegExp")):
            sub = list(nodes(tree))
            outer = sorted({n["name"] for n in sub if n["class"].endswith(".AttributeReference")})
            if outer and not any(n["class"].endswith(".NamedLambdaVariable") for n in sub):
                found.add(f"{cls}({', '.join(outer)})")
        for kid in kids:
            check(kid, in_lambda or cls == "LambdaFunction")

    def walk(v):
        if isinstance(v, list):
            head = v[0] if v else None
            if isinstance(head, dict) and head.get("class", "").startswith(
                "org.apache.spark.sql.catalyst.expressions."
            ):
                check(build(v, 0)[0], False)
            for x in v:
                walk(x)
        elif isinstance(v, dict):
            for x in v.values():
                walk(x)

    walk(json.loads(plan_json))
    return found


def test_no_lambda_reevaluates_outer_heavy_expression(registry_plans):
    """No registry plan applies split, regexp_*, lower or md5 to an outer
    column inside a lambda — the lambda form of "Catalyst does not CSE"
    (see plankit): e.g. a shingle lambda slicing ``split(text)`` re-split
    the whole text once per shingle, O(words²) per document. Stage the
    value in a column, or move it out of the lambda (dedup.shingles)."""
    bad = {
        name: sorted(calls)
        for name, (_, js) in registry_plans.items()
        if (calls := _lambda_invariant_heavy_calls(js))
    }
    assert bad == {}


def test_simhash_pigeonhole_recall_planted_bit12(spark):
    """Planted pair differing ONLY in bit 12 — the round-2 high-byte
    (simhash>>8) bucket put these in different buckets and never paired
    them; pigeonhole banding must find them."""
    from ngxspark.dedup import simhash_pairs_from_fingerprints

    sigs = spark.createDataFrame(
        [(1, 0), (2, 1 << 12), (3, 0b11 << 7)], "doc_id long, simhash long"
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs_from_fingerprints(sigs, max_hamming=2).collect()
    }
    assert (0 >> 8) != ((1 << 12) >> 8)  # r2 bucketing provably separated them
    assert pairs[(1, 2)] == 1  # the planted bit-12 pair is found
    assert pairs[(1, 3)] == 2  # straddles the old bucket-byte boundary (bits 7,8)
    assert (2, 3) not in pairs  # hamming 3 > max_hamming excluded


def test_simhash_pigeonhole_exact_vs_bruteforce(spark):
    """Randomized exactness: band-join pair set == all-pairs ground truth
    for Hamming <= 2 over 300 random 16-bit fingerprints."""
    import random

    from ngxspark.dedup import simhash_pairs_from_fingerprints

    rng = random.Random(42)
    fps = [(i, rng.getrandbits(16)) for i in range(300)]
    truth = {
        (a_id, b_id, bin(a ^ b).count("1"))
        for a_id, a in fps
        for b_id, b in fps
        if a_id < b_id and bin(a ^ b).count("1") <= 2
    }
    sigs = spark.createDataFrame(fps, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs_from_fingerprints(sigs, max_hamming=2).collect()
    }
    assert got == truth and len(truth) > 0


def test_simhash64_matches_python_reference(spark):
    """64-bit width differential vs a from-scratch Python reference
    (two md5 halves composed, two's-complement signed-long wrap)."""
    import hashlib

    texts = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "spark engines process tokens at scale"),
        (2, "short"),
        (3, ""),
        (4, "a a b b c repeated tokens a b"),
        (5, "unicode café über straße 日本語"),
    ]

    def ref(text: str) -> int:
        votes = [0] * 64
        for t in dict.fromkeys(text.split(" ")):
            h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:16], 16)
            for j in range(64):
                votes[j] += 1 if (h >> j) & 1 else -1
        v = 0
        for j in range(64):
            if votes[j] > 0:
                v |= 1 << j
        return v - (1 << 64) if v >= (1 << 63) else v

    df = spark.createDataFrame(texts, "doc_id long, text string")
    sigs = {r.doc_id: r.simhash for r in simhash_fingerprints(df, width=64).collect()}
    for i, t in texts:
        assert sigs[i] == ref(t), f"doc {i}: {sigs[i]} != {ref(t)}"


def test_pigeonhole_bands_guards():
    """Degenerate params must fail loudly: width <= max_hamming would mint
    zero-size bands (key 0 for every row → silent all-pairs cross join),
    and a >= 64-bit band's mask overflows LongType at plan-build time."""
    import pytest

    from ngxspark.dedup import pigeonhole_bands

    with pytest.raises(ValueError):
        pigeonhole_bands(16, 16)  # width <= max_hamming → zero-size bands
    with pytest.raises(ValueError):
        pigeonhole_bands(16, -1)
    with pytest.raises(ValueError):
        pigeonhole_bands(64, 0)  # single 64-bit band → (1<<64)-1 mask
    with pytest.raises(ValueError):
        pigeonhole_bands(127, 1)  # ceil(127/2)=64-bit first band
    assert pigeonhole_bands(64, 3) == [(0, 16), (16, 16), (32, 16), (48, 16)]
    assert pigeonhole_bands(16, 2) == [(0, 6), (6, 5), (11, 5)]


def test_simhash64_pigeonhole_exact_vs_bruteforce(spark):
    """Banding exactness at PRODUCTION width: 64-bit fingerprints clustered
    so Hamming <= 3 pairs exist, band-join pair set == all-pairs truth."""
    import random

    from ngxspark.dedup import simhash_pairs_from_fingerprints

    rng = random.Random(7)
    base = [rng.getrandbits(64) for _ in range(40)]
    fps = []
    i = 0
    for b in base:
        for _ in range(3):  # 3 fingerprints per cluster, 0-2 bits flipped
            v = b
            for _ in range(rng.randint(0, 2)):
                v ^= 1 << rng.randrange(64)
            fps.append((i, v - (1 << 64) if v >= (1 << 63) else v))
            i += 1
    truth = {
        (a_id, b_id, bin((a ^ b) & ((1 << 64) - 1)).count("1"))
        for a_id, a in fps
        for b_id, b in fps
        if a_id < b_id and bin((a ^ b) & ((1 << 64) - 1)).count("1") <= 3
    }
    sigs = spark.createDataFrame(fps, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_pairs_from_fingerprints(sigs, max_hamming=3, width=64).collect()
    }
    assert got == truth and len(truth) > 0


def test_plane_signs_match_duckdb_cte():
    """The driver-precomputed hyperplane sign arrays (simsearch._plane_signs,
    hashlib.md5) must equal the DuckDB oracle's planes CTE derivation —
    this is the cross-engine contract that lets the signs be plan-time
    literals instead of per-row md5 folds."""
    import duckdb

    from ngxspark.queries import _planes_cte
    from ngxspark.simsearch import _plane_signs

    con = duckdb.connect()
    rows = con.sql(
        f"WITH {_planes_cte(8, 16)} SELECT p, pv FROM planes ORDER BY p"
    ).fetchall()
    for p, pv in rows:
        assert tuple(pv) == _plane_signs(p, 16), f"plane {p}"


def test_decontaminate_flags_planted_overlap(spark):
    """A training doc embedding a benchmark 13-gram is flagged with the
    right distinct-gram count; clean and too-short docs stay at 0."""
    from ngxspark.textops import decontaminate

    bench_text = " ".join(f"b{i}" for i in range(13))  # exactly one 13-gram
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    train = spark.createDataFrame(
        [
            (1, "x " + bench_text + " y"),  # contains the benchmark gram
            (2, " ".join(f"c{i}" for i in range(20))),  # clean
            (3, "too short"),  # < 13 tokens → no grams
            (4, bench_text),  # verbatim copy
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_hit_grams, r.contaminated) for r in decontaminate(train, bench).collect()}
    assert got[1] == (1, True)
    assert got[2] == (0, False)
    assert got[3] == (0, False)
    assert got[4] == (1, True)


def test_incremental_dedup_batch_and_corpus(spark):
    """Survivors are first-in-batch AND absent from the corpus."""
    from ngxspark.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "brand new"),
            (11, "seen before"),  # dup of corpus → dropped
            (12, "brand new"),  # within-batch dup of 10 → dropped
            (13, "another fresh one"),
        ],
        "doc_id long, text string",
    )
    ids = [r.doc_id for r in incremental_dedup(batch, corpus).collect()]
    assert ids == [10, 13]


def test_dedup_soft_weights(spark):
    """Every copy kept; weight = scale DIV n_copies, so each unique
    content's total weight is scale - (scale mod n) — dedup in
    expectation without removal."""
    from ngxspark.dedup import dedup_soft_weights

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "a"), (4, "c"), (5, "a")],
        "doc_id long, text string",
    )
    rows = dedup_soft_weights(df, scale=900).collect()
    assert [r.doc_id for r in rows] == [1, 2, 3, 4, 5]
    by_doc = {r.doc_id: (r.n_copies, r.weight) for r in rows}
    assert by_doc[2] == (1, 900) and by_doc[4] == (1, 900)
    assert by_doc[1] == by_doc[3] == by_doc[5] == (3, 300)
    totals = {}
    for r in rows:
        totals[r.text_hash] = totals.get(r.text_hash, 0) + r.weight
    assert all(v == 900 for v in totals.values())


def _py_bloom_bitmap(texts, m_bits, k):
    """Pure-Python reference Bloom bitmap (hashlib only — independent of
    the Spark expression chain)."""
    import hashlib

    words = {}
    for d in {hashlib.md5(t.encode()).hexdigest() for t in texts}:
        for i in range(k):
            p = int(hashlib.md5(f"{d}:{i}".encode()).hexdigest()[:8], 16) % m_bits
            words[p // 32] = words.get(p // 32, 0) | (1 << (p % 32))
    return words


def test_bloom_bitmap_matches_python_reference(spark):
    from ngxspark.dedup import bloom_bitmap

    corpus = spark.createDataFrame(
        [(i, f"doc number {i} body") for i in range(40)], "doc_id long, text string"
    )
    got = {r.word_idx: r.word for r in bloom_bitmap(corpus, m_bits=512, k=3).collect()}
    want = _py_bloom_bitmap([f"doc number {i} body" for i in range(40)], 512, 3)
    assert got == want
    assert len(got) <= 512 // 32


def test_bloom_dedup_never_keeps_a_true_duplicate(spark):
    """Bloom survivors are a SUBSET of the exact gate's survivors: every
    corpus copy and within-batch copy is dropped (no false negatives —
    the Bloom guarantee); only genuinely-new docs can be FP-dropped."""
    from ngxspark.dedup import bloom_incremental_dedup, incremental_dedup

    corpus = spark.createDataFrame(
        [(i, f"corpus doc {i}") for i in range(50)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100 + i, f"fresh doc {i}") for i in range(30)]
        + [(200 + i, f"corpus doc {i}") for i in range(10)]  # corpus copies
        + [(300 + i, f"fresh doc {i}") for i in range(5)],  # in-batch copies
        "doc_id long, text string",
    )
    exact = {r.doc_id for r in incremental_dedup(batch, corpus).collect()}
    # tiny filter: FPs likely; survivors must still be a subset of exact
    tight = {r.doc_id for r in bloom_incremental_dedup(batch, corpus, m_bits=256, k=3).collect()}
    assert tight <= exact
    assert all(i < 200 for i in tight)  # no planted dup survives
    # roomy filter: zero FPs at this scale -> exactly the exact survivors
    roomy = {r.doc_id for r in bloom_incremental_dedup(batch, corpus, m_bits=1 << 20, k=3).collect()}
    assert roomy == exact


def test_bloom_probe_is_broadcast_only(spark):
    """The k probe joins must all be broadcast hash joins — no shuffle on
    the batch side beyond the within-batch digest window."""
    from ngxspark.dedup import bloom_incremental_dedup

    corpus = spark.createDataFrame(
        [(i, f"c{i}") for i in range(20)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100 + i, f"b{i}") for i in range(20)], "doc_id long, text string"
    )
    out = bloom_incremental_dedup(batch, corpus, m_bits=1024, k=3)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_unimax_allocation_rule(spark):
    """Quota table replays the UniMax fold: ascending-size visit order,
    min(c*N, uniform share of remaining budget) — the epoch-capped small
    stratum frees budget for the larger ones."""
    from ngxspark.textops import unimax_quota_table

    rows = (
        [(i, 0) for i in range(5)]  # stratum 0: 5 docs
        + [(100 + i, 1) for i in range(50)]  # stratum 1: 50 docs
        + [(500 + i, 2) for i in range(45)]  # stratum 2: 45 docs
    )
    staged = spark.createDataFrame(rows, "doc_id long, stratum long")
    got = {
        r.stratum: (r._c, r._q)
        for r in unimax_quota_table(staged, n_total=120, max_epochs=4).collect()
    }
    # fold: visit 0 (c=5): share 120//3=40, q=min(20,40)=20, rem=100
    #       visit 2 (c=45): share 100//2=50, q=min(180,50)=50, rem=50
    #       visit 1 (c=50): share 50//1=50, q=min(200,50)=50
    assert got == {0: (5, 20), 2: (45, 50), 1: (50, 50)}


def test_unimax_mix_respects_epoch_cap(spark):
    """No doc repeats past max_epochs; the capped stratum's total is
    exactly c*N; per-doc epochs are contiguous 1..n."""
    from ngxspark.textops import unimax_mix

    rows = [(i, "tiny doc") for i in range(5)] + [
        (100 + i, "big stratum doc " + "x " * 30) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = unimax_mix(
        df, F.floor(F.length("text") / 20).cast("long"), n_total=100, max_epochs=4
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.epoch)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_doc.values())
    assert max(len(v) for v in by_doc.values()) <= 4
    small_total = sum(len(v) for d, v in by_doc.items() if d < 100)
    assert small_total == 5 * 4  # capped stratum delivers exactly c*N


def test_dsir_prefers_target_like_docs(spark):
    """DSIR top-n should rank docs that share the target corpus's hashed
    n-gram distribution above dissimilar ones."""
    from ngxspark.textops import dsir_sample

    pool = spark.createDataFrame(
        [(i, f"the quick brown fox jumps {i % 3}") for i in range(20)]
        + [(100 + i, f"zzz qqq xxx www vvv {i % 3}") for i in range(20)],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(1000 + i, f"the quick brown fox jumps {i % 3}") for i in range(10)],
        "doc_id long, text string",
    )
    top = dsir_sample(pool, target, n=20).collect()
    assert all(r.doc_id < 100 for r in top)
    assert all(r.weight >= top[-1].weight for r in top)  # sorted desc


def test_dsir_offline_logratios_match_inline(spark):
    """Passing precomputed logratios (the offline/production form) must
    reproduce the inline two-pass result exactly."""
    from ngxspark.textops import dsir_logratios, dsir_sample

    pool = spark.createDataFrame(
        [(i, f"doc body number {i % 7} with words {i % 5}") for i in range(30)],
        "doc_id long, text string",
    )
    target = pool.filter(F.col("doc_id") % 3 == 0)
    lam = dsir_logratios(pool, target)
    inline = dsir_sample(pool, target, n=10).collect()
    offline = dsir_sample(pool, target, n=10, logratios=lam).collect()
    assert inline == offline


def test_dsir_pass2_is_shuffle_free(spark):
    """With precomputed logratios, scoring+top-n must be one codegen scan
    feeding TakeOrdered — no exchange, no join (the literal-lambda-array
    pattern)."""
    from ngxspark.textops import DSIR_BUCKETS, dsir_sample

    pool = spark.createDataFrame(
        [(i, f"words {i % 4} here") for i in range(25)], "doc_id long, text string"
    )
    out = dsir_sample(pool, pool, n=5, logratios=[0] * DSIR_BUCKETS)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_redact_pii_patterns(spark):
    from ngxspark.textops import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b@x.io and 10.0.0.1 plus 555-123-4567 done"),
            (2, "no pii here"),
            (3, "two mails a@b.co c@d.org"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert got[1].redacted == "mail <EMAIL> and <IP> plus <PHONE> done"
    assert (got[1].n_email, got[1].n_ip, got[1].n_phone) == (1, 1, 1)
    assert got[2].redacted == "no pii here" and got[2].n_email == 0
    assert got[3].redacted == "two mails <EMAIL> <EMAIL>" and got[3].n_email == 2


def test_pack_chunks_straddle_and_conservation(spark):
    """Docs straddling a bin boundary split their token count across the
    bins; per-doc tokens_in_bin sums conserve n_tokens; bins fill to
    exactly bin_tokens except each shard's last."""
    from ngxspark.textops import pack_chunks

    docs = [(i, " ".join(["w"] * n)) for i, n in [(0, 5), (1, 7), (2, 4), (3, 10)]]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = pack_chunks(df, bin_tokens=8, n_shards=1).collect()
    # stream in id order: doc0 [0,5), doc1 [5,12), doc2 [12,16), doc3 [16,26)
    got = [(r.bin_id, r.doc_id, r.tokens_in_bin) for r in rows]
    assert got == [
        (0, 0, 5), (0, 1, 3),          # doc1 straddles bins 0/1
        (1, 1, 4), (1, 2, 4),
        (2, 3, 8),                     # doc3 fills bin 2 exactly...
        (3, 3, 2),                     # ...and spills into bin 3
    ]
    per_doc = {}
    for b, d, t in got:
        per_doc[d] = per_doc.get(d, 0) + t
    assert per_doc == {0: 5, 1: 7, 2: 4, 3: 10}


def test_connected_components_raises_on_iteration_budget(spark):
    """A missed round budget must raise, not silently return
    mid-convergence labels (which would split true clusters). Round 1
    always rewrites a path's edge set, so max_iter=1 cannot reach the
    fixpoint on a 10-node path."""
    import pytest

    from ngxspark.dedup import connected_components

    n = 10
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(nodes, chain, max_iter=1)


def test_connected_components_random_vs_union_find(spark):
    """Randomized differential: connected_components == a from-scratch
    Python union-find on random sparse graphs."""
    import random

    from ngxspark.dedup import connected_components

    rng = random.Random(11)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    truth = {v: find(v) for v in range(n)}
    # union-find roots ARE component minima here because unions always
    # attach the larger root under the smaller
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.cluster_id for r in connected_components(nodes, e).collect()}
    assert got == truth
    # and once more at ~10x the size with denser components
    n2 = 1000
    edges2 = [(rng.randrange(n2), rng.randrange(n2)) for _ in range(1200)]
    edges2 = [(a, b) for a, b in edges2 if a != b]
    parent2 = list(range(n2))

    def find2(x):
        while parent2[x] != x:
            parent2[x] = parent2[parent2[x]]
            x = parent2[x]
        return x

    for a, b in edges2:
        ra, rb = find2(a), find2(b)
        if ra != rb:
            parent2[max(ra, rb)] = min(ra, rb)
    truth2 = {v: find2(v) for v in range(n2)}
    nodes2 = spark.createDataFrame([(i,) for i in range(n2)], "doc_id long")
    e2 = spark.createDataFrame(edges2, "id_a long, id_b long")
    got2 = {r.doc_id: r.cluster_id for r in connected_components(nodes2, e2).collect()}
    assert got2 == truth2


def test_connected_components_unlisted_endpoint_contract(spark):
    """Edge endpoints absent from `nodes` are full graph participants
    (connectivity AND label candidates) but get no output row.
    nodes={2,3}, edges 2-1, 1-3: id 1 is a conduit and the cluster min;
    the result is exactly rows (2→1), (3→1)."""
    from ngxspark.dedup import connected_components

    nodes = spark.createDataFrame([(2,), (3,)], "doc_id long")
    edges = spark.createDataFrame([(2, 1), (1, 3)], "id_a long, id_b long")
    got = sorted(tuple(r) for r in connected_components(nodes, edges).collect())
    assert got == [(2, 1), (3, 1)]


def test_connected_components_long_chain_within_log_budget(spark):
    """A 48-node path graph (diameter 47): large-star/small-star
    converges in O(log n) rounds, inside a 10-round budget that one-hop
    label propagation could not meet, and labels the whole chain with
    its minimum."""
    from ngxspark.dedup import connected_components

    n = 48
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(nodes, chain, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_connected_components_star_singletons_and_duplicate_edges(spark):
    """Duplicate/reversed/self-loop edges collapse; isolated nodes come
    back as singletons; empty edge set converges round 1."""
    from ngxspark.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    edges = spark.createDataFrame(
        [(2, 1), (1, 2), (2, 2), (2, 3), (3, 7), (5, 6), (6, 5)],
        "id_a long, id_b long",
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5, 4: 4, 8: 8}
    empty = spark.createDataFrame([], "id_a long, id_b long")
    got2 = {r.doc_id: r.cluster_id for r in connected_components(nodes, empty).collect()}
    assert got2 == {i: i for i in range(1, 9)}


def test_pack_chunks_random_conservation(spark):
    """Random docs: per-doc token conservation; every bin except each
    shard's last holds exactly bin_tokens; bins are contiguous per shard."""
    import random

    from ngxspark.textops import pack_chunks

    rng = random.Random(5)
    docs = [(i, " ".join(["t"] * rng.randint(1, 40))) for i in range(200)]
    n_tok = {i: len(t.split(" ")) for i, t in docs}
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = pack_chunks(df, bin_tokens=64, n_shards=4).collect()
    per_doc, per_bin = {}, {}
    for r in rows:
        assert r.tokens_in_bin >= 1
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.tokens_in_bin
        per_bin[(r.shard, r.bin_id)] = per_bin.get((r.shard, r.bin_id), 0) + r.tokens_in_bin
    assert per_doc == n_tok
    for shard in {s for s, _ in per_bin}:
        bins = sorted(b for s, b in per_bin if s == shard)
        assert bins == list(range(bins[0], bins[-1] + 1))  # contiguous
        for b in bins[:-1]:
            assert per_bin[(shard, b)] == 64
        assert 1 <= per_bin[(shard, bins[-1])] <= 64


def test_pack_chunks_output_is_a_function_of_shard_count(spark):
    """The shard count is a RECIPE parameter: output is deterministic at a
    given n_shards and legitimately differs across counts (the shard →
    token-stream mapping changes). Pin the exact packing at two explicit
    counts on a fixed corpus."""
    from ngxspark.textops import pack_chunks, pack_shards_for

    docs = [(i, " ".join(["w"] * (3 + i))) for i in range(6)]  # 3..8 tokens
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def key(rows):
        return [(r.shard, r.bin_id, r.doc_id, r.tokens_in_bin) for r in rows]

    one = key(pack_chunks(df, bin_tokens=10, n_shards=1).collect())
    # n_shards=1: single stream in id order: 3,4,5,6,7,8 tokens → offsets
    # 0,3,7,12,18,25 over 10-token bins
    assert one == [
        (0, 0, 0, 3), (0, 0, 1, 4), (0, 0, 2, 3), (0, 1, 2, 2), (0, 1, 3, 6),
        (0, 1, 4, 2), (0, 2, 4, 5), (0, 2, 5, 5), (0, 3, 5, 3),
    ]
    two = key(pack_chunks(df, bin_tokens=10, n_shards=2).collect())
    assert two != one  # different recipe → different packing, by design
    # determinism at each count
    assert key(pack_chunks(df, bin_tokens=10, n_shards=2).collect()) == two
    # autoscale helper: 33 total tokens → ceil(33/10)=4 shards; floor 1
    assert pack_shards_for(df, target_tokens_per_shard=10) == 4
    assert pack_shards_for(df, target_tokens_per_shard=10_000) == 1


def test_stratified_sample_quota_and_determinism(spark):
    """Per-stratum quota respected; selection deterministic and
    partitioning-invariant (md5-of-id order)."""
    from ngxspark.textops import stratified_sample

    docs = [(i, "w " * (5 if i % 2 == 0 else 50)) for i in range(40)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    stratum = (F.col("doc_id") % 2).cast("long")
    a = stratified_sample(df.repartition(7), stratum, quota=8).collect()
    b = stratified_sample(df.repartition(2), stratum, quota=8).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # output invariant to the salt-cell count (the two-phase selection is
    # a pure optimization — final top-quota per stratum is order-defined)
    c = stratified_sample(df, stratum, quota=8, salt_cells=3).collect()
    d = stratified_sample(df, stratum, quota=8, salt_cells=1).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in c] == [tuple(r) for r in d]
    per = {}
    for r in a:
        per[r.stratum] = per.get(r.stratum, 0) + 1
        assert 1 <= r.rank <= 8
    assert per == {0: 8, 1: 8}


def test_stratified_sample_full_corpus_exchange_is_salted(spark):
    """Scale-shape pin (r4 verdict #1): the exchange that moves the FULL
    corpus must partition on (stratum, _cell) — never on stratum alone;
    the stratum-only window may only run above the per-cell quota filter
    (bounded survivors). In the root-first plan string that means the
    stratum-only hashpartitioning appears BEFORE the salted one."""
    from ngxspark.textops import stratified_sample

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("t").alias("text")
    )
    out = stratified_sample(df, (F.col("doc_id") % 4).cast("long"), quota=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    parts = [p.split(")")[0] for p in plan.split("hashpartitioning(")[1:]]
    salted = [i for i, p in enumerate(parts) if "_cell" in p and "stratum" in p]
    plain = [i for i, p in enumerate(parts) if "stratum" in p and "_cell" not in p]
    assert salted, f"no (stratum, _cell) exchange in plan: {parts}"
    assert all(
        pl < min(salted) for pl in plain
    ), f"stratum-only exchange below the salted one (full-corpus sort): {parts}"


def test_temperature_mix_allocation_and_invariance(spark):
    """mT5 temperature rule pins: T=1 is proportional allocation; T=2
    upweights the small stratum relative to its share; Σ quota ≤ budget
    (floor allocation); a stratum smaller than its quota keeps all its
    docs; output invariant to salt_cells and input partitioning; the
    pow path (T=3) is deterministic."""
    from ngxspark.textops import temperature_mix

    # strata sizes: 0 → 160 docs, 1 → 40 docs, 2 → 4 docs
    rows = [(i, "x") for i in range(204)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stratum = (
        F.when(F.col("doc_id") < 160, 0).when(F.col("doc_id") < 200, 1).otherwise(2)
    ).cast("long")

    def quotas(out):
        return {r.stratum: r.quota for r in out}

    def kept(out):
        per = {}
        for r in out:
            per[r.stratum] = per.get(r.stratum, 0) + 1
        return per

    t1 = temperature_mix(df, stratum, n_total=51, temperature=1.0).collect()
    # proportional: 160/204, 40/204, 4/204 of 51 → floor(40), floor(10), floor(1)
    assert quotas(t1) == {0: 40, 1: 10, 2: 1}

    t2 = temperature_mix(df, stratum, n_total=51, temperature=2.0).collect()
    q2 = quotas(t2)
    # sqrt weights 12.65:6.32:2 → small strata gain share vs T=1
    assert q2[0] < 40 and q2[1] > 10 and q2[2] > 1
    assert sum(q2.values()) <= 51
    # stratum 2 has 4 docs; its sqrt quota (4) >= size → keeps all 4
    assert kept(t2)[2] == min(q2[2], 4)
    # every rank within quota, selection bounded by stratum size
    for s, n in kept(t2).items():
        assert n == min(q2[s], {0: 160, 1: 40, 2: 4}[s])

    # partitioning + salt-cell invariance (two-phase is a pure optimization)
    a = temperature_mix(df.repartition(7), stratum, 51, 2.0).collect()
    b = temperature_mix(df.repartition(2), stratum, 51, 2.0, salt_cells=1).collect()
    c = temperature_mix(df, stratum, 51, 2.0, salt_cells=3).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b] == [tuple(r) for r in c]
    assert [tuple(r) for r in a] == [tuple(r) for r in t2]

    # pow path (T != 2): runs, deterministic, flatter than T=2
    t3a = temperature_mix(df, stratum, 51, 3.0).collect()
    t3b = temperature_mix(df.repartition(5), stratum, 51, 3.0).collect()
    assert [tuple(r) for r in t3a] == [tuple(r) for r in t3b]
    q3 = quotas(t3a)
    assert q3[0] < q2[0] and q3[2] >= q2[2]


def test_repeat_factor_mix_regimes(spark):
    """Epoch upsampler pins, one fixture exercising all three regimes:
    clamp (quota//c ≥ max_repeat → exactly max_repeat epochs each),
    base+Bernoulli (1 or 2 epochs), fraction-only downsample (0 or 1).
    Deterministic and partitioning-invariant; corpus side never
    shuffles (broadcast quota join, no sort-merge join)."""
    from ngxspark.textops import repeat_factor_mix

    # strata sizes 160 / 40 / 4; nt=200, T=2 → quotas 120 / 60 / 19
    rows = [(i, "x") for i in range(204)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stratum = (
        F.when(F.col("doc_id") < 160, 0).when(F.col("doc_id") < 200, 1).otherwise(2)
    ).cast("long")
    out = repeat_factor_mix(df, stratum, n_total=200, temperature=2.0).collect()

    per_doc, per_stratum = {}, {}
    for r in out:
        per_doc[r.doc_id] = max(per_doc.get(r.doc_id, 0), r.epoch)
        per_stratum.setdefault(r.stratum, set()).add(r.doc_id)
        assert r.epoch >= 1
    # clamp regime: quota 19 // 4 docs = base 4 → every doc exactly 4 epochs
    assert all(per_doc[i] == 4 for i in range(200, 204))
    # base+Bernoulli: quota 60 over 40 docs → every doc 1 or 2 epochs
    assert all(per_doc.get(i) in (1, 2) for i in range(160, 200))
    assert len(per_stratum[1]) == 40  # base ≥ 1 → nobody dropped
    # fraction-only: quota 120 over 160 docs → 0 or 1 epochs, some dropped
    assert all(per_doc.get(i, 0) in (0, 1) for i in range(160))
    assert 0 < len(per_stratum[0]) < 160
    # max_repeat honored globally
    assert max(per_doc.values()) <= 4

    # deterministic + partitioning-invariant
    again = repeat_factor_mix(df.repartition(7), stratum, 200, 2.0).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]

    # scale shape: quota table broadcasts, corpus never sort-merge-joins
    plan = (
        repeat_factor_mix(df, stratum, 200, 2.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_blocked_doc_ids_broadcast_semi_join(spark):
    """The scale form of the C4 domain filter: ids referencing any
    blocklisted domain come back (deduped), benign/no-URL docs don't,
    and the plan joins broadcast (no shuffle of the corpus side)."""
    from ngxspark.textops import blocked_doc_ids, url_stats

    docs = [
        (1, "see https://ads.example.com/a and https://ads.example.com/b"),
        (2, "only https://ok.example.org/x here"),
        (3, "no urls at all"),
        (4, "mixed https://ok.example.org/y https://spam.example.net/z"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    bl = spark.createDataFrame(
        [("ads.example.com",), ("spam.example.net",)], "domain string"
    )
    out = blocked_doc_ids(df, bl)
    assert [r.doc_id for r in out.collect()] == [1, 4]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # literal-list form agrees on the flag
    flags = {r.doc_id: r.blocked for r in url_stats(
        df, ["ads.example.com", "spam.example.net"]).collect()}
    assert flags == {1: True, 2: False, 3: False, 4: True}


def test_token_budget_sample_prefix_and_invariance(spark):
    """Kept set per stratum = maximal md5-order prefix with total ≤
    budget; oversized docs never kept; output invariant to salt_cells
    and partitioning."""
    import hashlib

    from ngxspark.textops import token_budget_sample

    docs = [(i, "w " * (4 + i % 5)) for i in range(30)] + [(99, "w " * 500)]
    df = spark.createDataFrame([(i, t.strip()) for i, t in docs], "doc_id long, text string")
    stratum = (F.col("doc_id") % 2 == 0).cast("long")
    got = token_budget_sample(df, stratum, token_budget=25).collect()
    a = [tuple(r) for r in got]
    b = [tuple(r) for r in token_budget_sample(
        df.repartition(7), stratum, token_budget=25, salt_cells=3).collect()]
    assert a == b
    # python reference: maximal md5-order prefix per stratum
    ref = {}
    for i, t in docs:
        n = len(t.strip().split(" "))
        ref.setdefault((1 if i % 2 == 0 else 0), []).append(
            (hashlib.md5(str(i).encode()).hexdigest(), i, n)
        )
    expect = []
    for s in sorted(ref):
        cum = 0
        for _, i, n in sorted(ref[s]):
            cum += n
            if cum > 25:
                break
            expect.append((i, s, n, cum))
    assert sorted(a) == sorted(expect)
    assert all(r.doc_id != 99 for r in got)  # 500-token doc > whole budget


def test_token_budget_sample_cell_boundary_regression(spark):
    """Round-5 review repro: a doc whose CELL-cumsum exceeds the budget
    must still count against later docs' budgets. The plain per-cell
    ≤budget prefix silently removed doc 990's 8 tokens, wrongly admitting
    doc 764 (true cum 22 > 14) with a fabricated cum of 14. The fix keeps
    each cell's first over-budget doc so phase 2 sees true cumsums.
    Also: randomized differential vs the single-window python reference
    across salt counts."""
    import hashlib
    import random

    from ngxspark.textops import token_budget_sample

    def ref_keep(docs, budget):
        order = sorted((hashlib.md5(str(i).encode()).hexdigest(), i, n) for i, n in docs)
        out, cum = [], 0
        for _, i, n in order:
            cum += n
            if cum > budget:
                break
            out.append((i, 0, n, cum))
        return out

    repro = [(990, 8), (478, 3), (224, 4), (764, 3), (975, 7), (96, 7), (407, 6), (906, 7)]
    df = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in repro], "doc_id long, text string"
    )
    for cells in (1, 2, 4):
        got = sorted(
            tuple(r)
            for r in token_budget_sample(
                df, F.lit(0).cast("long"), token_budget=14, salt_cells=cells
            ).collect()
        )
        assert got == sorted(ref_keep(repro, 14)), f"salt_cells={cells}: {got}"

    rng = random.Random(7)
    for trial in range(5):
        docs = [(rng.randrange(10_000), rng.randint(1, 9)) for _ in range(40)]
        docs = list({i: n for i, n in docs}.items())
        budget = rng.randint(10, 60)
        dfr = spark.createDataFrame(
            [(i, " ".join(["w"] * n)) for i, n in docs], "doc_id long, text string"
        )
        for cells in (1, 3):
            got = sorted(
                tuple(r)
                for r in token_budget_sample(
                    dfr, F.lit(0).cast("long"), token_budget=budget, salt_cells=cells
                ).collect()
            )
            assert got == sorted(ref_keep(docs, budget)), (
                f"trial={trial} cells={cells} budget={budget}"
            )


def test_dedup_segments_boilerplate_and_full_copy(spark):
    """Cross-document boilerplate (a shared 10-token header) survives only
    in its first occurrence; a full-copy doc collapses to empty; unique
    tails are untouched; token conservation: kept + dropped = ceil(n/10)."""
    from ngxspark.textops import dedup_segments

    header = " ".join(f"h{i}" for i in range(10))  # exactly one segment
    docs = [
        (1, header + " " + "alpha beta gamma"),
        (2, header + " " + "delta epsilon zeta"),
        (3, header + " " + "alpha beta gamma"),  # full copy of doc 1
        (4, "totally unique words only here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup_segments(df).collect()}
    assert got[1].clean_text == docs[0][1] and got[1].n_dropped == 0
    # doc 2 loses the header, keeps its own tail
    assert got[2].clean_text == "delta epsilon zeta"
    assert (got[2].n_kept, got[2].n_dropped) == (1, 1)
    # doc 3 is segment-for-segment covered by doc 1 → empty
    assert got[3].clean_text == "" and got[3].n_kept == 0 and got[3].n_dropped == 2
    assert got[4].clean_text == docs[3][1] and got[4].n_dropped == 0
    # segment conservation: kept + dropped = ceil(n_tokens / 10) per doc
    for doc_id, text in docs:
        n_segs = -(-len(text.split(" ")) // 10)
        assert got[doc_id].n_kept + got[doc_id].n_dropped == n_segs


def test_exact_substring_dedup_spans(spark):
    """Lee et al. semantics: the FIRST occurrence of a duplicated span
    survives everywhere it reaches; later occurrences lose every covered
    token (overlapping duplicate windows merge by position union); docs
    shorter than the span are untouched; a full copy collapses to ''."""
    from ngxspark.textops import exact_substring_dedup

    span = " ".join(f"s{i}" for i in range(5))  # 5-token duplicated span
    docs = [
        (1, span + " unique one tail"),
        (2, "head two " + span + " more words after"),  # loses the span only
        (3, span),                                      # exact copy → empty
        (4, "short doc under five"),                    # < span_tokens → kept
        (5, "no duplicated content in here at all"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in exact_substring_dedup(df, span_tokens=5).collect()}
    assert got[1].clean_text == docs[0][1] and got[1].n_removed == 0
    assert got[2].clean_text == "head two more words after"
    assert got[2].n_removed == 5
    assert got[3].clean_text == "" and got[3].n_kept == 0 and got[3].n_removed == 5
    assert got[4].clean_text == docs[3][1] and got[4].n_removed == 0
    assert got[5].clean_text == docs[4][1] and got[5].n_removed == 0
    # overlapping duplicate windows: doc 6 repeats the span twice in a row
    # → windows overlap; everything covered by non-first windows goes
    df2 = spark.createDataFrame(
        [(1, span + " x"), (6, span + " " + span)], "doc_id long, text string"
    )
    got2 = {r.doc_id: r for r in exact_substring_dedup(df2, span_tokens=5).collect()}
    assert got2[1].clean_text == span + " x"
    assert got2[6].n_kept == 0 and got2[6].clean_text == ""


def test_curation_staged_matches_single_plan_and_resumes(spark, tmp_path):
    """Staged curation == single-plan curation bit-for-bit; a resumed run
    reads completed stages back instead of rewriting them (manifest
    contract), and resume=False forces recompute."""
    import os

    from ngxspark.curation import curate_corpus
    from ngxspark.queries import _docs_with_dups

    docs = _docs_with_dups(spark, "/root/testdata/sf0.001")
    single = curate_corpus(docs).collect()
    d = str(tmp_path / "staged")
    staged = curate_corpus(docs, staged_dir=d).collect()
    assert [tuple(r) for r in single] == [tuple(r) for r in staged]

    def success_mtimes():
        return {
            s: os.path.getmtime(os.path.join(d, s, "_SUCCESS"))
            for s in ("quality", "deduped", "curated")
        }

    before = success_mtimes()
    again = curate_corpus(docs, staged_dir=d).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in staged]
    assert success_mtimes() == before, "resume must not rewrite completed stages"
    forced = curate_corpus(docs, staged_dir=d, resume=False).collect()
    assert [tuple(r) for r in forced] == [tuple(r) for r in staged]
    assert success_mtimes() != before, "resume=False must recompute"


def test_simhash_dial_pair_counts(spark):
    """Pin the banding dial's EXACT pair counts per (width, max_hamming)
    on the fixed sf0.001 dup-injected corpus — the priced table in
    BENCH/BASELINE.md cannot drift silently. Monotone in k by
    construction (Hamming <= k sets nest)."""
    from ngxspark.dedup import simhash_near_dup_pairs
    from ngxspark.queries import _docs_with_dups

    expected = {
        (16, 1): 9732, (16, 2): 24746, (16, 3): 46681,
        (64, 1): 551, (64, 2): 1046, (64, 3): 2127,
    }
    got = {}
    for (width, k) in expected:
        docs = _docs_with_dups(spark, "/root/testdata/sf0.001")
        got[(width, k)] = simhash_near_dup_pairs(
            docs, max_hamming=k, width=width
        ).count()
    assert got == expected


def test_connected_components_chain_and_singletons(spark):
    """Chain transitivity (1~2~3 one cluster even though 1!~3), a separate
    2-cluster, and isolated singletons — min-label fixpoint."""
    from ngxspark.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(1, 9)], "doc_id long")
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (5, 6)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 5: 5, 6: 5, 4: 4, 8: 8}


def test_doc_stats_values(spark):
    df = spark.createDataFrame([(1, "the cat sat on a mat")], "doc_id long, text string")
    r = doc_stats(df).first()
    assert r.n_tokens == 6
    assert r.stopword_ratio == round(2 / 6, 4)  # 'the', 'a'
    assert r.lang_pred == "en"
    assert len(r.fingerprint) == 32


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(40):
        a = math.cos(i * 0.7)
        b = math.sin(i * 0.7)
        rows.append((i, [a, b, a * b, 0.5]))
    rows.append((100, rows[0][1]))  # exact duplicate of vec 0
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(vectors):
    res = brute_force_topk(vectors, query_ids=[0], k=3).collect()
    assert len(res) == 3
    assert res[0].neighbor_id == 100 and res[0].score == 1.0  # the duplicate
    assert [r.rank for r in res] == [1, 2, 3]
    assert res[0].score >= res[1].score >= res[2].score


def test_lsh_ann_subset_of_bucket(vectors):
    res = lsh_ann_topk(vectors, query_ids=[0], k=3, n_planes=3, dim=4).collect()
    # identical vector is in the same bucket by construction → found at rank 1
    assert res and res[0].neighbor_id == 100 and res[0].score == 1.0
    assert len(res) <= 3


def test_lsh_cosine_pairs_finds_exact_duplicate(vectors):
    # identical vectors always share a bucket, so the pair survives any plane count
    pairs = lsh_cosine_pairs(vectors, threshold=0.999999, n_planes=3, dim=4).collect()
    assert any(r.id_a == 0 and r.id_b == 100 for r in pairs)


def test_multimodal_plumbing(spark):
    ids = spark.range(30).select(F.col("id").alias("doc_id"))
    media = synthesize_media(ids)
    assert media.count() == 30
    feats = extract_features(media).collect()
    assert len(feats) == 30
    assert all(f.n_bytes == 128 for f in feats)  # md5 hex ×8 → 128 bytes
    assert all(len(f.feature) == 8 for f in feats)
    frames = frame_sample_plan(media, every_ms=1000)
    vids = media.filter("kind = 'video'").count()
    assert frames.select("media_id").distinct().count() == vids
    one = frames.groupBy("media_id").count().join(media, "media_id").first()
    if one:
        import math

        assert one["count"] == max(math.floor(one.duration_ms / 1000), 1)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 1
    assert set(df.columns) == {"sink", "cnt"}
    qs, osql = e.queries(), e.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 18


def test_bench_suite_names_are_registry_keys():
    """bench.py's operator suite is frozen: every name it times must stay
    a queries() key (e.g. the dedup_clusters_star alias). Read with ast —
    bench.py is neither imported nor run."""
    import ast
    import os

    from ngxspark import queries as Q

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")
    with open(path) as f:
        tree = ast.parse(f.read())
    suites = [
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "suite" for t in node.targets)
    ]
    assert len(suites) == 1 and isinstance(suites[0], ast.List)
    names = [ast.literal_eval(elt) for elt in suites[0].elts]
    assert names
    assert sorted(set(names) - set(Q.queries())) == []


def test_ivf_ann(vectors):
    from ngxspark.simsearch import ivf_ann_topk, ivf_assign

    assigned, cents = ivf_assign(vectors, n_centroids=4)
    assert cents.count() == 4
    assert assigned.count() == vectors.count()
    assert assigned.select("_cell").distinct().count() <= 4
    res = ivf_ann_topk(vectors, query_ids=[0], k=3, n_centroids=4, n_probe=2).collect()
    # the exact duplicate (vec 100) shares vec 0's cell by construction
    assert res and res[0].neighbor_id == 100 and res[0].score == 1.0
    assert len(res) <= 3 and [r.rank for r in res] == list(range(1, len(res) + 1))


def test_lsh_cosine_pairs_multi_table_recall(spark):
    """Recall/cost dial on PLANTED NEAR-dups (cosine 0.995, not exact
    copies): each of 50 corpus vectors gets a perturbed twin rotated by
    acos(0.995) in a seeded random direction; single-table LSH misses twins
    straddling a hyperplane, additional tables recover them. Everything is
    deterministic (seeded numpy + md5 planes), so values are pinned."""
    import numpy as np
    import pandas as pd

    from ngxspark.simsearch import lsh_cosine_pairs

    pdf = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = pdf[pdf.vec_id < 50]
    rng = np.random.RandomState(7)
    rows = []
    for _, r in pdf.iterrows():
        v = np.array(r.embedding, dtype=np.float64)
        vhat = v / np.linalg.norm(v)
        g = rng.randn(64)
        u = g - (g @ vhat) * vhat
        u /= np.linalg.norm(u)
        alpha = np.arccos(0.995)
        v2 = np.linalg.norm(v) * (np.cos(alpha) * vhat + np.sin(alpha) * u)
        rows.append((int(r.vec_id), [float(x) for x in v]))
        rows.append((int(r.vec_id) + 1000000, [float(x) for x in v2]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def recall(n_tables: int) -> float:
        found = {
            (p.id_a, p.id_b)
            for p in lsh_cosine_pairs(
                df, threshold=0.99, n_planes=6, dim=64, n_tables=n_tables
            ).collect()
        }
        return sum((i, i + 1000000) in found for i in range(50)) / 50

    r1, r4 = recall(1), recall(4)
    assert r1 == 0.84  # single table misses plane-straddling twins
    assert r4 == 1.0  # four tables recover all of them
    assert r4 > r1


def test_ivf_exact_means_partition_invariant(spark):
    """exact_means centroids must be BITWISE identical regardless of input
    partitioning (the deterministic two-level summation tree); the default
    partial-agg avg path gives no such guarantee, which is why only the
    exact_means variant is hash-oracled."""
    from ngxspark.simsearch import ivf_assign

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def cents_map(df):
        _, cents = ivf_assign(
            df, n_centroids=8, n_iter=1, dim=64, exact_means=True
        )
        return {r.cent_id: list(r.cvec) for r in cents.collect()}

    a = cents_map(e.repartition(2))
    b = cents_map(e.repartition(17, "vec_id"))
    assert a == b  # exact float equality, not approx


def test_ann_recall_at_5_vs_brute_force(spark):
    """Recall@5 against exact brute force on the real embeddings table
    (all derivations deterministic → stable values; floors conservative):
    IVF with 3/16 probes ≥ 0.8; multi-table LSH recall rises with the
    number of independent hash tables (the classic recall/cost dial)."""
    from ngxspark.simsearch import brute_force_topk, ivf_ann_topk, lsh_ann_topk

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = list(range(10))
    truth = {}
    for r in brute_force_topk(e, query_ids=qids, k=5).collect():
        truth.setdefault(r.query_id, set()).add(r.neighbor_id)

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(got.get(q, set()) & truth[q]) for q in qids) / (5 * len(qids))

    ivf = recall(ivf_ann_topk(e, query_ids=qids, k=5, n_centroids=16, n_probe=3, n_iter=1))
    assert ivf >= 0.8, f"IVF recall@5 {ivf}"
    l1 = recall(lsh_ann_topk(e, query_ids=qids, k=5, n_planes=4, dim=64, n_tables=1))
    l4 = recall(lsh_ann_topk(e, query_ids=qids, k=5, n_planes=4, dim=64, n_tables=4))
    assert l4 >= max(l1, 0.5), f"multi-table LSH recall@5 L1={l1} L4={l4}"


def test_semdedup_clusters_and_representatives(spark):
    """SemDeDup: identical vectors share a cell (deterministic argmax) and
    collapse to one kept representative (min id); near-but-under-threshold
    vectors stay kept; every vector gets a row and keep == (id ==
    cluster_id)."""
    from ngxspark.simsearch import semdedup

    def vec(*dims):
        v = [0.0] * 8
        for i, x in zip(range(0, 8, 2), dims):
            v[i] = float(x)
        return v

    rows = [
        (1, vec(1, 0, 0)), (2, vec(1, 0, 0)), (3, vec(1, 0, 0)),  # triple dup
        (4, vec(0, 5, 1)), (5, vec(0, 5, 1.001)),                 # near dup
        (6, vec(0, 0, 9)),                                        # singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: r for r in semdedup(
        df, threshold=0.999, n_centroids=3, dim=8).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6}
    assert out[1].cluster_id == out[2].cluster_id == out[3].cluster_id == 1
    assert out[1].keep and not out[2].keep and not out[3].keep
    # 4 and 5: cosine ≈ 0.99998 ≥ 0.999 → same cluster
    assert out[4].cluster_id == out[5].cluster_id == 4
    assert out[4].keep and not out[5].keep
    assert out[6].keep and out[6].cluster_id == 6
    for r in out.values():
        assert r.keep == (r.vec_id == r.cluster_id)


def test_semdedup_d4_cell_guard_and_auto_k(spark):
    """The enforced cell-population guard (r5 judge finding): a cell
    above max_cell raises with the sizing guidance instead of silently
    running a quadratic pair join; n_centroids=None derives k from the
    corpus at the paper's 0.1% ratio (floor 16); a permissive max_cell
    still runs."""
    import pytest

    from ngxspark.simsearch import _resolve_n_centroids, d4_prune, semdedup

    rows = [(i, [float(i % 3), 1.0] + [0.0] * 6) for i in range(1, 31)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # 2 centroids over 30 vectors → some cell ≥ 15 > max_cell=8
    with pytest.raises(ValueError, match="quadratic in cell size"):
        semdedup(df, n_centroids=2, dim=8, max_cell=8).collect()
    with pytest.raises(ValueError, match="d4_prune"):
        d4_prune(df, n_centroids=2, dim=8, max_cell=8).collect()
    # permissive bound (and the default) pass through to real output
    out = semdedup(df, n_centroids=2, dim=8, max_cell=30).collect()
    assert len(out) == 30
    # auto-k: floor of 16 at small N; 0.1% ratio beyond it
    assert _resolve_n_centroids(df, None) == 16
    assert _resolve_n_centroids(df, 7) == 7


def test_curation_staged_fingerprint_invalidates_stale_dir(spark, tmp_path):
    """Staged resume keys on an input fingerprint, not the stage name
    alone (r5 advice): pointing a staged_dir built from one corpus at a
    DIFFERENT corpus must recompute, not serve the stale tables."""
    from ngxspark.curation import curate_corpus
    from ngxspark.queries import _docs_with_dups

    docs = _docs_with_dups(spark, "/root/testdata/sf0.001")
    d = str(tmp_path / "staged")
    curate_corpus(docs, staged_dir=d).collect()
    smaller = docs.filter("doc_id % 2 = 0")
    fresh = curate_corpus(smaller, staged_dir=d).collect()
    expect = curate_corpus(smaller).collect()
    assert [tuple(r) for r in fresh] == [tuple(r) for r in expect]


def test_dedup_segments_zero_token_rows(spark):
    """The zero-token guard is LOCAL (r5 advice): a row whose token
    array is empty/null (null text — the space-split tokenizer maps ''
    to ['']) yields zero segments instead of a bogus descending [0,-1]
    sequence range; empty-string docs keep the tokenizer's defined
    one-empty-segment semantics (first occurrence survives, later
    copies dedup away)."""
    from ngxspark.textops import dedup_segments

    df = spark.createDataFrame(
        [(1, None), (2, "alpha beta gamma delta"), (3, ""), (4, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_segments(df, seg_tokens=2).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1].clean_text == "" and out[1].n_kept == 0  # guard path
    assert out[2].clean_text == "alpha beta gamma delta" and out[2].n_kept == 2
    assert out[3].clean_text == "" and out[3].n_kept == 1  # [''] → 1 segment
    assert out[4].clean_text == "" and out[4].n_kept == 0  # dup of 3


def test_qc_weights_match_duckdb_derivation():
    """The driver-precomputed classifier weight table (textops.qc_weights,
    hashlib.md5 + exact power-of-two double ops) must equal an independent
    DuckDB SQL derivation from the same md5 — the cross-engine contract
    that lets the weights be plan-time literals (and lets the oracle SQL
    inline them)."""
    import duckdb

    from ngxspark.textops import LM_SCALE, QC_DIM, qc_weights

    con = duckdb.connect()
    rows = con.sql(
        f"""
        SELECT b, floor((('0x'||substr(md5('ngxw:'||b),1,8))::BIGINT
                         / 4294967296.0 - 0.5) * {LM_SCALE})::BIGINT
        FROM range({QC_DIM}) t(b) ORDER BY b
        """
    ).fetchall()
    ws = qc_weights()
    assert [w for _, w in rows] == ws and len(ws) == QC_DIM


def test_lm_quality_values_and_partition_invariance(spark):
    """Hand-computed unigram-LM mean NLL on a tiny corpus (independent
    Python math), bucket cutoffs honored, and the scaled-integer fold is
    invariant to input partitioning (exact BIGINT sums — no float-order
    sensitivity)."""
    import math

    from ngxspark.textops import LM_SCALE, lm_quality

    docs = [
        (0, "a a a a"),
        (1, "a a b b"),
        (2, "a b c rare"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # top_k=2 vocab: a (7), b (3); total 12; c/rare are OOV
    tot = 12
    lp = {"a": math.floor(math.log(7 / tot) * LM_SCALE),
          "b": math.floor(math.log(3 / tot) * LM_SCALE)}
    oov = math.floor(math.log(0.5 / tot) * LM_SCALE)
    exp = {}
    for doc_id, text in docs:
        toks = text.split(" ")
        slp = sum(lp.get(t, oov) for t in toks)
        exp[doc_id] = round(-slp / LM_SCALE / len(toks), 6)
    out = {
        r["doc_id"]: (r["avg_nll"], r["bucket"])
        for r in lm_quality(df, top_k=2, head_cutoff=0.9, tail_cutoff=2.0).collect()
    }
    assert {k: v[0] for k, v in out.items()} == exp
    # doc 0 is all-head token (nll ln(12/7)=0.539), doc 2 hits the OOV floor
    assert out[0][1] == "head" and out[1][1] == "middle" and out[2][1] == "tail"
    out7 = {
        r["doc_id"]: (r["avg_nll"], r["bucket"])
        for r in lm_quality(
            df.repartition(7), top_k=2, head_cutoff=0.9, tail_cutoff=2.0
        ).collect()
    }
    assert out7 == out


def test_quality_classifier_hand_rolled_and_bigram_guard(spark):
    """Classifier logit equals an independent Python md5 re-derivation
    (unigrams + bigrams, bucketed weights); a single-token doc produces
    exactly 1 feature — the n<2 guard keeps Spark's descending
    sequence(1,0) from fabricating bigrams."""
    import hashlib

    from ngxspark.textops import LM_SCALE, QC_DIM, qc_weights, quality_classifier

    ws = qc_weights()

    def feat_w(f: str) -> int:
        return ws[int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % QC_DIM]

    docs = [(0, "alpha"), (1, "alpha beta"), (2, "x y z w")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_classifier(df).collect()}
    for doc_id, text in docs:
        toks = text.split(" ")
        feats = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        ls = sum(feat_w(f) for f in feats)
        logit = round(ls / LM_SCALE / len(feats), 6)
        r = out[doc_id]
        assert r["n_feats"] == len(feats), doc_id
        assert r["logit"] == logit, doc_id
        assert r["label"] == ("keep" if logit > 0 else "drop"), doc_id
    assert out[0]["n_feats"] == 1 and out[1]["n_feats"] == 3


def test_corpus_profile_hand_values_and_partition_invariance(spark):
    """Exact-integer-sum profiling: mean/sd/percentiles hand-checked on a
    tiny group, identical under repartitioning (no float-order
    sensitivity), and the production approx mode agrees on everything
    except the (sketched) percentiles."""
    import math

    from ngxspark.textops import corpus_profile

    # group "a": token counts 1..5 -> mean 3, sd sqrt(2.5), p50 = 3
    docs = [(i, "a", " ".join(["w"] * (i + 1))) for i in range(5)]
    docs += [(10 + i, "b", "x y z") for i in range(3)]
    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    out = {r["source"]: r for r in corpus_profile(df, exact=True).collect()}
    a = out["a"]
    assert a["n_docs"] == 5 and a["total_tokens"] == 15
    assert a["mean_tokens"] == 3.0
    assert a["sd_tokens"] == round(math.sqrt(2.5), 4)
    assert a["p50_tokens"] == 3.0 and a["p25_tokens"] == 2.0
    assert out["b"]["sd_tokens"] == 0.0 and out["b"]["p95_tokens"] == 3.0
    out7 = {r["source"]: r for r in corpus_profile(df.repartition(7), exact=True).collect()}
    assert {k: v.asDict() for k, v in out7.items()} == {
        k: v.asDict() for k, v in out.items()
    }
    approx = {r["source"]: r for r in corpus_profile(df.repartition(3)).collect()}
    for g in ("a", "b"):
        for c in ("n_docs", "total_tokens", "mean_tokens", "sd_tokens", "mean_quality"):
            assert approx[g][c] == out[g][c], (g, c)


def test_corpus_profile_single_doc_group_sd_is_null(spark):
    """A one-doc group's sample stddev is undefined — it must surface as
    NULL, not NaN (0/0), in both the exact and approx modes."""
    from ngxspark.textops import corpus_profile

    df = spark.createDataFrame(
        [(0, "solo", "just one doc here"), (1, "multi", "a b"), (2, "multi", "c d e")],
        "doc_id long, source string, text string",
    )
    for exact in (True, False):
        out = {r["source"]: r for r in corpus_profile(df, exact=exact).collect()}
        assert out["solo"]["sd_tokens"] is None, exact
        assert out["multi"]["sd_tokens"] is not None, exact


def test_shuffle_shards_matches_single_window_reference(spark):
    """Training-order shuffle: output equals the naive one-window-per-shard
    form (computed in pure Python from the same md5 order) and is invariant
    to partitioning AND to the cell width — the hex-prefix cells partition
    an already-total order, they never change it."""
    import hashlib

    from ngxspark.textops import shuffle_shards

    df = spark.range(500).select(F.col("id").alias("doc_id"))
    a = shuffle_shards(df.repartition(7), n_shards=8).collect()
    b = shuffle_shards(df.repartition(3), n_shards=8, cell_chars=1).collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    rows = []
    for i in range(500):
        u = hashlib.md5(str(i).encode()).hexdigest()
        rows.append((int(u[:8], 16) % 8, u, i))
    expect = []
    for s in range(8):
        grp = sorted((r for r in rows if r[0] == s), key=lambda r: (r[1], r[2]))
        expect += [(r[2], s, p + 1) for p, r in enumerate(grp)]
    assert [tuple(r) for r in a] == expect


def test_shuffle_shards_rank_window_is_salted(spark):
    """Scale-shape pin (the stratified_sample lesson): the window that
    sorts by the full md5 key must partition on (shard_id, _cell) — a
    shard-only partition spec there would sort each shard's terabytes on
    one task. The only shard-only window allowed is the tiny per-cell
    offset prefix sum, which orders by _cell, not _u."""
    from ngxspark.textops import shuffle_shards

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    out = shuffle_shards(df, n_shards=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    specs = [
        frag[:250] for frag in plan.split("windowspecdefinition(")[1:]
    ]
    assert specs, "no window in shuffle_shards plan"
    for spec in specs:
        if "_u#" in spec:
            assert "_cell#" in spec, f"md5-order window not cell-salted: {spec}"


def test_fuzzy_decontaminate_replica_and_reject_path(spark):
    """Pin against the hand-computed MinHash/band/Jaccard replica: b1's
    exact copy hits both bench docs at threshold 0.5 (jac 1.0 / 0.8);
    raising the threshold to 0.9 keeps the 0.8 pair as a BAND candidate
    but the exact-Jaccard verify rejects it (n_bench_hits drops to 1);
    a 0.29-overlap doc shares no band (LSH recall miss, by design) and a
    disjoint doc produces nothing. The bench band join must broadcast."""
    from ngxspark.dedup import fuzzy_decontaminate

    b1 = "a b c d e f g h i j"
    b2 = b1 + " k l"
    bench = spark.createDataFrame([(1, b1), (2, b2)], "doc_id long, text string")
    train = spark.createDataFrame(
        [
            (100, b1),
            (101, "a b c d e f zz yy xx ww vv uu"),
            (102, "totally different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    lo = fuzzy_decontaminate(train, bench, threshold=0.5)
    plan = lo._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "band_key" in plan
    rows = {r.doc_id: r for r in lo.collect()}
    assert set(rows) == {100}
    assert rows[100].max_jaccard == pytest.approx(1.0)
    assert rows[100].n_bench_hits == 2
    hi = {
        r.doc_id: r
        for r in fuzzy_decontaminate(train, bench, threshold=0.9).collect()
    }
    assert set(hi) == {100}
    assert hi[100].max_jaccard == pytest.approx(1.0)
    assert hi[100].n_bench_hits == 1


def test_fuzzy_contamination_scores_match_batch(spark):
    """The stateless literal-index form gives IDENTICAL verdicts to the
    broadcast-join batch form — including the band-candidate-but-
    verify-rejected case at threshold 0.9. The band keys themselves are
    pinned by test_contamination_index_band_keys_match_lsh_band_keys."""
    from ngxspark.dedup import (
        contamination_index,
        fuzzy_contamination_scores,
        fuzzy_decontaminate,
    )

    b1 = "a b c d e f g h i j"
    bench = spark.createDataFrame(
        [(1, b1), (2, b1 + " k l")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (100, b1),
            (101, "a b c d e f zz yy xx ww vv uu"),
            (102, "totally different words entirely here now"),
            (103, "xy"),
        ],
        "doc_id long, text string",
    )
    idx = contamination_index(bench)
    for th in (0.5, 0.9):
        got = sorted(
            tuple(r) for r in fuzzy_contamination_scores(train, idx, th).collect()
        )
        want = sorted(
            tuple(r) for r in fuzzy_decontaminate(train, bench, th).collect()
        )
        assert got == want, th


def test_contamination_index_band_keys_match_lsh_band_keys(spark):
    """The driver-side hashlib chain of contamination_index yields the
    SAME (doc, band) → band_key map as the in-plan lsh_band_keys chain,
    including docs shorter than one shingle and the empty doc."""
    from ngxspark.dedup import (
        N_BANDS,
        SHINGLE_WORDS,
        contamination_index,
        lsh_band_keys,
    )

    texts = [
        "a b c d e f g h i j",
        "a b c d e f g h i j k l",
        "totally different words entirely here now",
        "xy",
        "two words",
        "",
    ]
    assert min(len(t.split(" ")) for t in texts) < SHINGLE_WORDS
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    jvm = {(r.doc_id, r.band): r.band_key for r in lsh_band_keys(docs).collect()}
    py = {
        (bid, band): key
        for bid, keys, _ in contamination_index(docs)
        for band, key in enumerate(keys)
    }
    assert len(jvm) == N_BANDS * len(texts)
    assert py == jvm


# (text, 3-word shingles); a NULL text depends on the ANSI mode
_SHINGLE_EDGES = [
    ("", [""]),
    ("a", ["a"]),
    ("a b", ["a b"]),
    ("a b c", ["a b c"]),
    ("a  b c d", ["a  b", " b c", "b c d"]),
    (" x y z ", [" x y", "x y z", "y z "]),
    ("  ", ["  "]),
    ("a b c d e f g", ["a b c", "b c d", "c d e", "d e f", "e f g"]),
]


def test_shingles_edge_values(spark):
    """shingles over empty, short, padded and double-spaced texts with
    ANSI on and off. A NULL text gives NULL under ANSI, and [''] with ANSI
    off, where size(NULL) is -1 and the n < k branch joins the NULL token
    array to ''."""
    from ngxspark.dedup import shingles

    rows = [(i, t) for i, (t, _) in enumerate(_SHINGLE_EDGES)]
    rows.append((len(rows), None))
    df = spark.createDataFrame(rows, "i int, text string")
    want = {i: sh for i, (_, sh) in enumerate(_SHINGLE_EDGES)}
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode, null_shingles in (("true", None), ("false", [""])):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            out = df.select("i", shingles(F.col("text")).alias("sh"))
            got = {r.i: r.sh for r in out.collect()}
            assert got == {**want, len(rows) - 1: null_shingles}, mode
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)


def test_ccnet_buckets_per_stratum_calibration(spark):
    """The point of true-CCNet over fixed cutoffs: each stratum is split
    by its OWN score distribution — with 9 distinct scores per stratum
    the tertiles give exactly 3/3/3 regardless of how hard the stratum
    is, and the same document text can land in different buckets in
    different strata. Exact and approx cutoffs agree here (tiny groups);
    output is partitioning-invariant."""
    from ngxspark.textops import ccnet_buckets

    # stratum "easy": common tokens (low nll); "hard": rare tokens.
    # distinct lengths → distinct avg_nll within each stratum.
    docs = [(i, "easy", "the a of " + "the " * i + "zzz") for i in range(9)]
    docs += [(100 + i, "hard", f"rare{i} " * (i + 1) + "qqq xxy") for i in range(9)]
    df = spark.createDataFrame(docs, "doc_id long, stratum_in string, text string")
    out = ccnet_buckets(df, F.col("stratum_in"), exact=True).collect()
    per = {}
    for r in out:
        per.setdefault(r.stratum, []).append(r.bucket)
    assert {s: sorted(set(b)) for s, b in per.items()} == {
        "easy": ["head", "middle", "tail"],
        "hard": ["head", "middle", "tail"],
    }
    for s, b in per.items():
        assert len(b) == 9 and b.count("head") == 3 and b.count("tail") == 3, (s, b)
    # a GLOBAL tertile would drown the easy stratum in head: pin that the
    # hard stratum still produced heads (per-stratum calibration is live)
    hard_heads = [r.doc_id for r in out if r.stratum == "hard" and r.bucket == "head"]
    assert len(hard_heads) == 3
    a = ccnet_buckets(df.repartition(7), F.col("stratum_in"), exact=True).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, out))
    approx = ccnet_buckets(df.repartition(3), F.col("stratum_in"), exact=False).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, out))


def test_langid_trigram_held_out(spark):
    """Classifier labels HELD-OUT sentences (not the seed texts) with the
    right language, ties and degenerate docs deterministically."""
    from ngxspark.textops import langid_trigram

    rows = [
        (0, "the quick brown fox jumps over the lazy dog and runs to the house", "en"),
        (1, "der schnelle braune fuchs springt und die hunde laufen in das haus", "de"),
        (2, "le renard brun rapide saute et les chiens courent dans la maison", "fr"),
        (3, "el zorro marron rapido salta y los perros corren a la casa", "es"),
        (4, "la volpe bruna salta e i cani corrono verso la casa molto spesso", "it"),
        (5, "a raposa castanha salta e os caes correm para a casa muito depressa", "pt"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows], "doc_id long, text string")
    got = {r.doc_id: r for r in langid_trigram(df).collect()}
    for i, _, lang in rows:
        assert got[i].pred_lang == lang, (i, got[i])
        assert got[i].margin > 0
    # degenerate docs: no letters → all scores 0 → first language
    # alphabetically, margin 0, zero trigrams (deterministic, no crash)
    deg = spark.createDataFrame([(9, ""), (10, "12345 !!!")], "doc_id long, text string")
    for r in langid_trigram(deg).collect():
        assert (r.pred_lang, r.top_score, r.margin, r.n_tris) == ("de", 0, 0, 0)


def test_langid_profiles_fixed_point():
    """Profiles are integer literals with a shared smoothing vocabulary;
    every seed self-classifies (sanity floor for the heuristic)."""
    from ngxspark.textops import langid_profiles

    profiles, miss = langid_profiles()
    assert set(profiles) == {"de", "en", "es", "fr", "it", "pt"}
    for lang, prof in profiles.items():
        assert all(isinstance(s, int) and s < 0 for s in prof.values())
        assert miss[lang] < min(prof.values())  # miss is the worst score


def test_source_overlap_matrix(spark):
    """Hand-computed overlap: content shared 3 ways yields all 3 pairs;
    sources with no shared digest emit no row; duplicate DOCS of the
    same content in one source count once (distinct digests)."""
    from ngxspark.dedup import source_overlap

    rows = [
        (1, "aaa", "s1"), (2, "aaa", "s2"), (3, "aaa", "s3"),
        (4, "bbb", "s1"), (5, "bbb", "s2"),
        (6, "ccc", "s1"), (7, "ddd", "s2"),
        (8, "aaa", "s1"),  # same content twice in s1 — still one digest
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {(r.src_a, r.src_b): r.n_shared_digests for r in source_overlap(df).collect()}
    assert got == {("s1", "s2"): 2, ("s1", "s3"): 1, ("s2", "s3"): 1}


def test_cidr_expansion_properties():
    """Prefix expansion covers each block exactly (no gaps/overlaps at
    /16 seams), rejects overlapping dimensions, honors alignment."""
    from ngxspark.enrich import IP_RANGES, cidr_bounds, ip_range_dim_rows
    import pytest as _pt

    rows = ip_range_dim_rows()
    covered = sum(h - l + 1 for _, l, h, _ in rows)
    expect = sum(cidr_bounds(c)[1] - cidr_bounds(c)[0] + 1 for c, _ in IP_RANGES)
    assert covered == expect
    for pfx, lo, hi, _ in rows:
        assert lo >> 16 == pfx and hi >> 16 == pfx and lo <= hi  # /16-contained
    assert cidr_bounds("10.0.0.7/11") == cidr_bounds("10.0.0.0/11")  # alignment
    with _pt.raises(ValueError):
        ip_range_dim_rows([("10.0.0.0/11", "x"), ("10.16.0.0/12", "y")])


def test_enrich_ip_range_assignment(spark):
    """Row-level label assignment: hand-picked ips land in the right
    block, the 10.176/12 gap and non-10 space read 'unknown', and the
    plan is a BroadcastHashJoin (no nested loop)."""
    from ngxspark.enrich import enrich_ip_range

    rows = [
        (1, "10.0.0.1", "region-a"),
        (2, "10.33.7.9", "region-b"),
        (3, "10.127.255.255", "region-c"),
        (4, "10.128.0.0", "dc-1"),
        (5, "10.159.1.2", "dc-2"),
        (6, "10.176.0.1", "unknown"),  # deliberate coverage gap
        (7, "10.255.255.255", "edge"),
        (8, "192.168.1.1", "unknown"),
        # dirty addresses (routine in real logs): ANSI cast would throw
        # CAST_INVALID_INPUT and kill the job; try_cast lands 'unknown'
        (9, "-", "unknown"),
        (10, "", "unknown"),
        (11, "host.example.com", "unknown"),
        (12, "10.0.x.1", "unknown"),
    ]
    df = spark.createDataFrame([(i, ip) for i, ip, _ in rows], "k long, remote_addr string")
    out = enrich_ip_range(df)
    got = {r.k: r.ip_label for r in out.collect()}
    assert got == {i: lbl for i, ip, lbl in rows}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "NestedLoop" not in plan


def test_error_spike_hours_flags(spark):
    """Synthetic 10-hour series with one screaming hour: only that hour
    is flagged; fixed-point stats match a hand computation."""
    import datetime as dt

    from ngxspark.aggregate import error_spike_hours

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(10):
        n_err = 8 if h == 6 else 1  # hour 6 spikes
        for i in range(10):
            rows.append((eid, base + dt.timedelta(hours=h, minutes=i), "error" if i < n_err else "view"))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = {r.hour_start: r for r in error_spike_hours(df).collect()}
    assert len(out) == 10
    spikes = [k for k, r in out.items() if r.spike]
    assert spikes == ["2024-01-01 06:00:00"]
    r6 = out["2024-01-01 06:00:00"]
    # rate_fp = 8*1e6 DIV 10; mean_fp = (9*100000 + 800000) DIV 10
    assert (r6.rate_fp, r6.mean_fp) == (800000, 170000)


@pytest.mark.parametrize(
    "name", ["semdedup", "d4_prune", "semantic_decontaminate", "near_dup_cosine"]
)
def test_embedding_ops_match_duckdb_oracle(spark, name):
    """Each embedding operator has one kernel (BLAS matmul or LSH verify);
    its registry query equals the DuckDB oracle row for row at sf0.01,
    under the same comparator as tools/check_oracle.py."""
    import __spark_entry__ as entry
    from tools.check_oracle import compare, oracle_connection

    sf = "/root/testdata/sf0.01"
    got = entry.queries()[name](spark, sf).toPandas()
    want = oracle_connection(sf).execute(entry.oracle_sql()[name]).df()
    assert compare(got, want) == []
    assert len(got) > 0


def test_cell_pairs_arrow_blocking(spark):
    """Blocked matmul correctness: a cell bigger than one 2048-row block
    emits exactly the duplicate-plant pairs (each plant pairs with its
    original across block boundaries), no self/lower-triangle leaks."""
    import math

    from ngxspark.simsearch import semdedup

    rows = []
    for i in range(2600):  # > one 2048 block in a single cell
        a, b = math.cos(i * 0.37), math.sin(i * 0.37)
        rows.append((i, [a, b, a * b, 0.5] + [0.0] * 60))
    dup_ids = [3000 + j for j in range(5)]
    for j, d in enumerate(dup_ids):
        rows.append((d, rows[j][1]))  # exact duplicates of vecs 0..4
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in semdedup(vecs, n_centroids=1, threshold=0.999999,
                                         max_cell=None).collect()}
    assert len(out) == 2605
    for j, d in enumerate(dup_ids):
        assert out[d].cluster_id == out[j].cluster_id == j and not out[d].keep


def test_tfidf_topk_terms_matches_float_reference(spark):
    """Differential: the fixed-point tf-idf keyword extractor matches a
    from-scratch float tf·ln(N/df) ranking (term-string tiebreak), and the
    per-doc cut keeps exactly k terms (fewer when the doc has fewer
    distinct terms)."""
    import math

    from ngxspark.retrieval import tfidf_topk_terms

    docs = [
        (0, "rare common common filler filler filler"),
        (1, "common filler filler unique unique unique unique"),
        (2, "common common filler other"),
    ]
    got = tfidf_topk_terms(
        spark.createDataFrame(docs, "doc_id long, text string"), k=2
    ).collect()

    texts = {i: t.split(" ") for i, t in docs}
    N = len(docs)

    def ref_top(toks, k=2):
        terms = sorted(set(toks))
        scored = []
        for t in terms:
            df = sum(1 for v in texts.values() if t in v)
            scored.append((t, toks.count(t) * math.floor(math.log(N / df) * 1_000_000)))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored[:k]

    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, toks in texts.items():
        want = ref_top(toks)
        rows = sorted(by_doc[i], key=lambda r: r.rank)
        assert [(r.term, r.score) for r in rows] == want, (i, rows, want)
        assert [r.rank for r in rows] == list(range(1, len(want) + 1))


def test_tfidf_plan_two_phase_window_and_single_term_exchange(spark):
    """Plan pins: the per-doc top-k runs as Spark 4's two-phase
    WindowGroupLimit, and the term-keyed repartition feeds both the df
    aggregate and the score join without a second full pairs shuffle
    (the df-agg side has NO hashpartitioning(term) exchange of its own —
    only the explicit REPARTITION_BY_COL one)."""
    from ngxspark.retrieval import tfidf_topk_terms

    df = spark.createDataFrame(
        [(i, f"w{i % 3} w{i % 5} common") for i in range(40)],
        "doc_id long, text string",
    )
    out = tfidf_topk_terms(df, k=2)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert plan.count("REPARTITION_BY_COL") >= 1


def test_semantic_decontaminate_flags_planted_leak(spark):
    """A training vector equal to an eval vector flags contaminated=1
    (max_sim 1.0); an orthogonal one does not; max_sim is the max over
    the WHOLE eval set; the eval matrix rides a broadcast into one
    stateless kernel (MapInPandas, no join); an empty eval set flags
    nothing and returns no rows."""
    from ngxspark.simsearch import semantic_decontaminate

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    train = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),      # exact leak of eval 100
            (2, [0.0, 0.0, 1.0, 0.0]),      # orthogonal to both
            (3, [0.6, 0.8, 0.0, 0.0]),      # 0.8 vs eval 101 (max over set)
        ],
        "vec_id long, embedding array<float>",
    )
    out = semantic_decontaminate(train, ev, threshold=0.95)
    rows = {r.vec_id: r for r in out.collect()}
    assert rows[1].contaminated == 1 and abs(rows[1].max_sim - 1.0) < 1e-9
    assert rows[2].contaminated == 0 and abs(rows[2].max_sim) < 1e-9
    assert rows[3].contaminated == 0 and abs(rows[3].max_sim - 0.8) < 1e-6
    # stateless BLAS projection — no pair join in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan and "BroadcastNestedLoopJoin" not in plan
    assert semantic_decontaminate(train, ev.filter(F.lit(False))).collect() == []


def test_ngram_diversity_detects_templated_source(spark):
    """A source generating one fixed template collapses to the exact
    distinct/total fixed-point ratio of the constant text; a diverse
    source scores high; groups never mix."""
    from ngxspark.textops import ngram_diversity

    rows = [(i, f"w{3 * i} w{3 * i + 1} w{3 * i + 2}", "diverse") for i in range(8)]
    rows += [(100 + i, "x y x y x y", "tmpl") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in ngram_diversity(df, n=2).collect()}
    # tmpl: grams per doc = [x y, y x, x y, y x, x y] -> 2 distinct, 25 total
    assert out["tmpl"].distinct_grams == 2
    assert out["tmpl"].total_grams == 25
    assert out["tmpl"].diversity_fp == 2 * 1_000_000 // 25
    # every diverse gram is unique -> ratio exactly 1.0
    assert out["diverse"].distinct_grams == 16
    assert out["diverse"].diversity_fp == 1_000_000
