"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the part that matters at 100 TB):
  * exact dedup — one hash shuffle on a 32-char digest, partial agg first;
  * MinHash — signatures are computed per row with NO shuffle (higher-order
    expressions over the shingle array, materialized ONCE per row); band
    keys derive via a single explode — ONE source scan, ONE signature
    computation for all bands; only the tiny (doc_id, band, band_key)
    projection shuffles;
  * candidate verification (``lsh_verified_pairs``) pairs docs ONLY within
    shared LSH bands — a bucket-local equi-join, never a cross product.
    ``ngram_jaccard_pairs`` is the bare verify kernel (quadratic; bounded
    blocks / re-rank only).

All hashes are md5: the DuckDB oracle reproduces md5 exactly, which a
faster engine-specific hash such as xxhash64 would not.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# The one MinHash-LSH shape: each shingle's md5 splits into N_MINHASHES
# 32-bit chunks (md5's 128 bits set the 4), and each run of BAND_SIZE
# chunk minima is md5-hashed into one band key. The DuckDB oracles and
# contamination_index hard-code the same chain.
N_MINHASHES = 4
BAND_SIZE = 2
N_BANDS = N_MINHASHES // BAND_SIZE
SHINGLE_WORDS = 3


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups by content hash (keep = min id)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min(id_col).alias("keep_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("text_hash")
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative of each exact-content group."""
    w_key = F.md5(F.col(text_col))
    ranked = df.withColumn(
        "_rk", F.row_number().over(Window.partitionBy(w_key).orderBy(id_col))
    )
    return ranked.filter(F.col("_rk") == 1).drop("_rk")


def ccnet_normalize(col: Column) -> Column:
    """CCNet-style text normalization (Wenzek et al. 2020 §4.1 — the
    normalize-before-hash step of their paragraph dedup): lowercase,
    digits → 0, strip non-alphanumeric/space characters, collapse
    whitespace runs, trim. (The paper also folds accents / non-printing
    chars; this corpus is ASCII so the regex class stops there — a
    Unicode corpus would widen the class, same plan shape.) All four
    steps are plain regexp_replace — the identical RE2/Java-common
    patterns the oracle runs."""
    x = F.lower(col)
    x = F.regexp_replace(x, "[0-9]", "0")
    x = F.regexp_replace(x, "[^a-z0-9 ]", "")
    x = F.regexp_replace(x, " +", " ")
    return F.trim(x)


def dedup_normalized(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Normalization-robust exact dedup: group on md5(ccnet_normalize(text))
    and keep the min-id representative — catches the case / digit /
    punctuation variants plain exact dedup misses (CCNet's dedup is
    exactly this hash at paragraph granularity; dedup_segments is the
    segment-level composition). Emits (id, norm_digest, cluster_id, keep)
    for every doc. Same 100 TB shape as dedup_exact: ONE digest-keyed
    shuffle (fixed-width key), window keep-first, no join."""
    digest = F.md5(ccnet_normalize(F.col(text_col)))
    staged = df.select(F.col(id_col), digest.alias("norm_digest"))
    w = Window.partitionBy("norm_digest")
    return (
        staged.withColumn(
            "cluster_id", F.min(id_col).over(w)
        )
        .select(
            F.col(id_col),
            "norm_digest",
            F.col("cluster_id").cast("long").alias("cluster_id"),
            (F.col(id_col) == F.col("cluster_id")).alias("keep"),
        )
        .orderBy(id_col)
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental exact dedup: keep new-batch docs whose content digest is
    (a) first within the batch (min id wins) and (b) absent from the
    already-ingested corpus — the per-crawl-snapshot ingestion gate of a
    training pipeline (each new dump dedupes against everything kept so
    far, not just against itself).

    100 TB shape: the corpus side reduces to its distinct md5 digest set —
    at scale a pre-materialized, digest-bucketed index table that grows
    append-only as batches are accepted, NOT a rescan of corpus text — and
    the left_anti join shuffles only 32-byte digests co-partitioned with
    the batch's digests; within-batch keep-first is one window over the
    same digest key, so both steps share a single hash partitioning."""
    corpus_hashes = corpus_df.select(F.md5(F.col(text_col)).alias("_h")).distinct()
    hashed = new_df.withColumn("_h", F.md5(F.col(text_col)))
    ranked = hashed.withColumn(
        "_rk", F.row_number().over(Window.partitionBy("_h").orderBy(id_col))
    )
    return (
        ranked.filter(F.col("_rk") == 1)
        .join(corpus_hashes, "_h", "left_anti")
        .select(F.col(id_col), F.col("_h").alias("text_hash"))
        .orderBy(id_col)
    )


def cluster_representatives(
    clusters: DataFrame,
    scored: DataFrame,
    score_col: str = "score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware representative selection over near-dup clusters —
    the FUZZY analogue of ``dedup_priority``'s exact-group rule and the
    policy real curation runs want (RefinedWeb keeps the longest /
    best-scoring member, not the smallest id): for each cluster from
    ``connected_components``, keep the member with the highest
    ``score_col`` (ties → min id — fully deterministic, so the whole
    assignment hash-oracles). Emits every doc with its cluster, score,
    and a keep flag; downstream drops ``keep = false``.

    100 TB shape: ONE shuffle keyed on cluster_id; the window ranks
    within near-dup clusters, whose size is bounded by the upstream
    pair generation (max_bucket guard, band locality) — no mega-
    partition unless the dup graph is degenerate, which the LSH stage
    polices before this operator ever runs."""
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        clusters.join(scored.select(id_col, score_col), id_col)
        .withColumn("_rk", F.row_number().over(w))
        .select(
            F.col(id_col),
            "cluster_id",
            F.col(score_col),
            (F.col("_rk") == 1).alias("keep"),
        )
        .orderBy(id_col)
    )


def incremental_lsh_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """FUZZY per-snapshot ingestion gate — the near-dup complement of
    ``incremental_dedup`` (RefinedWeb/CCNet shape: each new crawl dump
    is deduped against everything kept so far, at NEAR-dup granularity,
    before acceptance): drop new-batch docs whose verified n-gram
    Jaccard against ANY corpus doc is ≥ ``threshold``; within the batch
    itself keep the first copy per exact digest (within-batch NEAR-dup
    grouping is a post-acceptance ``connected_components`` job — an
    ingestion gate must not let batch-internal near-dup chains change
    which corpus comparisons happen).

    An exact corpus copy shares every band and verifies at Jaccard 1.0,
    so the fuzzy path subsumes the exact cross-corpus check.

    100 TB shape: the corpus side reduces to its (band, band_key) index
    — at scale a pre-materialized append-only table maintained as
    batches are accepted (exactly like incremental_dedup's digest
    index), NOT a rescan of corpus text; the candidate join is
    band-local (new keys × corpus keys on (band, band_key)); shingle
    sets join back by id for CANDIDATES only (corpus text is touched
    only for docs that share a bucket with the batch); the final drop
    is one left_anti on the batch id."""
    new_keys = lsh_band_keys(new_df, text_col, id_col)
    corpus_keys = lsh_band_keys(corpus_df, text_col, id_col)
    cand = (
        new_keys.select(F.col(id_col).alias("_nid"), "band", "band_key")
        .join(
            corpus_keys.select(F.col(id_col).alias("_cid"), "band", "band_key"),
            ["band", "band_key"],
        )
        .select("_nid", "_cid")
        .distinct()
    )
    sh_new = new_df.select(
        F.col(id_col).alias("_nid"),
        F.array_distinct(shingles(F.col(text_col))).alias("sh_n"),
    )
    sh_corpus = corpus_df.select(
        F.col(id_col).alias("_cid"),
        F.array_distinct(shingles(F.col(text_col))).alias("sh_c"),
    )
    pairs = cand.join(sh_new, "_nid").join(sh_corpus, "_cid")
    hits = (
        pairs.filter(_jaccard(F.col("sh_n"), F.col("sh_c")) >= threshold)
        .select(F.col("_nid").alias(id_col))
        .distinct()
    )
    ranked = new_df.withColumn("_h", F.md5(F.col(text_col))).withColumn(
        "_rk", F.row_number().over(Window.partitionBy("_h").orderBy(id_col))
    )
    return (
        ranked.filter(F.col("_rk") == 1)
        .join(hits, id_col, "left_anti")
        .select(F.col(id_col), F.col("_h").alias("text_hash"))
        .orderBy(id_col)
    )


def fuzzy_decontaminate(
    train_df: DataFrame,
    bench_df: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """FUZZY test-set decontamination — the near-dup complement of the
    exact 13-gram ``textops.decontaminate`` (the Llama-2 / FineWeb
    recipe: an eval example that was lightly paraphrased or truncated
    into the crawl shares no exact 13-gram but still leaks): flag
    training docs whose verified shingle-set Jaccard against ANY
    benchmark doc is ≥ ``threshold``, reporting the worst (max) overlap
    and how many benchmark docs it hits.

    100 TB shape — and why this is NOT ``incremental_lsh_dedup`` with a
    renamed argument: there BOTH sides are corpus-scale, so the
    candidate join shuffles on (band, band_key). Here the benchmark
    side is tiny by construction (eval suites are 10^3-10^5 docs), so
    its (band, band_key) index AND its shingle sets ride as broadcasts —
    the training corpus is scanned ONCE, candidates fall out of a
    broadcast hash join with zero shuffle of training text, and only
    the candidate ids (≪ corpus) reach the verify/max stages. Output
    rows exist only for contaminated docs; the caller left_anti-joins
    to scrub (same contract as textops.blocked_doc_ids).
    """
    t_keys = lsh_band_keys(train_df, text_col, id_col)
    b_keys = lsh_band_keys(bench_df, text_col, id_col)
    cand = (
        t_keys.select(F.col(id_col).alias("_tid"), "band", "band_key")
        .join(
            F.broadcast(b_keys.select(F.col(id_col).alias("_bid"), "band", "band_key")),
            ["band", "band_key"],
        )
        .select("_tid", "_bid")
        .distinct()
    )
    sh_train = train_df.select(
        F.col(id_col).alias("_tid"),
        F.array_distinct(shingles(F.col(text_col))).alias("sh_t"),
    )
    sh_bench = bench_df.select(
        F.col(id_col).alias("_bid"),
        F.array_distinct(shingles(F.col(text_col))).alias("sh_b"),
    )
    jac = _jaccard(F.col("sh_t"), F.col("sh_b"))
    return (
        cand.join(sh_train, "_tid")
        .join(F.broadcast(sh_bench), "_bid")
        .select("_tid", "_bid", jac.alias("_jac"))
        .filter(F.col("_jac") >= threshold)
        .groupBy("_tid")
        .agg(
            F.max("_jac").alias("max_jaccard"),
            F.countDistinct("_bid").alias("n_bench_hits"),
        )
        .select(F.col("_tid").alias(id_col), "max_jaccard", "n_bench_hits")
        .orderBy(id_col)
    )


def contamination_index(
    bench_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> list[tuple[int, list[str], list[str]]]:
    """Driver-side (bench_id, band_keys, distinct shingles) index of a
    SMALL benchmark corpus — the offline artifact the stateless fuzzy
    contamination check replays (the same train-once/replay split as
    ``textops.lm_vocab_logprobs`` and ``benchmark_gram_keys``). The
    hashlib md5 chain here is byte-identical to the in-plan chain of
    ``lsh_band_keys`` (same precedent as ``simsearch._plane_signs``;
    parity pinned by
    test_contamination_index_band_keys_match_lsh_band_keys). One tiny
    collect — eval suites are 10^3-10^5 docs by construction."""
    import hashlib

    out = []
    for r in bench_df.select(id_col, text_col).collect():
        toks = r[text_col].split(" ")
        if len(toks) < SHINGLE_WORDS:
            sh = [" ".join(toks)]
        else:
            sh = [
                " ".join(toks[i : i + SHINGLE_WORDS])
                for i in range(len(toks) - SHINGLE_WORDS + 1)
            ]
        hh = [hashlib.md5(s.encode()).hexdigest() for s in sh]
        mh = [min(h[8 * i : 8 * i + 8] for h in hh) for i in range(N_MINHASHES)]
        keys = [
            hashlib.md5("|".join(mh[b * BAND_SIZE : (b + 1) * BAND_SIZE]).encode()).hexdigest()
            for b in range(N_BANDS)
        ]
        out.append((int(r[id_col]), keys, sorted(set(sh))))
    return out


def fuzzy_contamination_scores(
    df: DataFrame,
    index: list[tuple[int, list[str], list[str]]],
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """STATELESS per-row fuzzy decontamination — the streaming-safe twin
    of ``fuzzy_decontaminate`` with identical verdicts (pinned by test):
    the benchmark index (``contamination_index``) rides as a literal
    struct array; each row derives its own band keys with the same
    md5-chunk chain as ``lsh_band_keys``, verifies Jaccard against only
    the band-colliding bench entries, and keeps itself iff any verified
    overlap ≥ ``threshold``. No shuffle, no state — drop-in for a
    streaming plan (the dsir_score / contamination_counts shape). For
    large benchmarks prefer the batch form's broadcast joins over the
    per-row literal scan."""
    bench_lit = F.array(
        *[
            F.struct(
                F.lit(bid).alias("bid"),
                F.array(*[F.lit(k) for k in keys]).alias("bks"),
                F.array(*[F.lit(s) for s in sh]).alias("sh"),
            )
            for bid, keys, sh in index
        ]
    )
    staged = (
        df.withColumn("_sh", shingles(F.col(text_col)))
        .withColumn("_shh", F.transform(F.col("_sh"), F.md5))
        .withColumn("_shd", F.array_distinct(F.col("_sh")))
    )
    for i in range(N_MINHASHES):
        staged = staged.withColumn(f"_mh{i}", _chunk_min(F.col("_shh"), i))
    staged = staged.withColumn(
        "_bks", F.array(*_band_keys([F.col(f"_mh{i}") for i in range(N_MINHASHES)]))
    )
    cand = F.filter(
        bench_lit,
        lambda e: F.exists(
            F.zip_with(e["bks"], F.col("_bks"), lambda a, b: a == b), lambda x: x
        ),
    )
    verdicts = F.filter(
        F.transform(
            cand,
            lambda e: F.struct(
                e["bid"].alias("bid"), _jaccard(F.col("_shd"), e["sh"]).alias("j")
            ),
        ),
        lambda v: v["j"] >= threshold,
    )
    return (
        staged.withColumn("_hits", verdicts)
        .filter(F.size("_hits") > 0)
        .select(
            F.col(id_col),
            F.array_max(F.transform(F.col("_hits"), lambda v: v["j"])).alias(
                "max_jaccard"
            ),
            F.size(
                F.array_distinct(F.transform(F.col("_hits"), lambda v: v["bid"]))
            )
            .cast("long")
            .alias("n_bench_hits"),
        )
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components over the near-dup pair graph — the dedup
    CLUSTER assignment (cluster_id = min doc id reachable through
    near-dup edges; isolated docs form singleton clusters). A curation
    pipeline keeps ONE representative per cluster instead of greedily
    dropping the higher id of each pair (which over-deletes on chains
    a~b~c where a!~c).

    Algorithm: the alternating large-star/small-star rounds of Kiveris
    et al., "Connected Components in MapReduce and Beyond" (SoCC'14).
    State is the EDGE set (distinct, self-loop-free). Per round,
    large-star connects every neighbor larger than u to u's
    min-including-self; small-star connects the smaller neighbors and u
    itself to their min. Both are one groupBy-min + equi-join.
    Convergence = the round's output equals its input (both sides are
    distinct sets, so equal counts + empty anti-join ⇔ equality). The
    fixpoint is a union of disjoint stars centered on the component
    minima (Kiveris et al., Thm 5.1), reached in O(log n) rounds
    regardless of diameter; labels read off the star edges and isolated
    nodes label themselves. (Hash-min label propagation, O(diameter)
    rounds over the full label table, measured 2.2× slower on the
    near-dup graph and was deleted — BENCH/BASELINE.md, round-5 CC
    mode pricing.)

    Node-universe contract (pinned by test): edge endpoints absent from
    ``nodes`` participate fully in the graph — they carry connectivity
    AND are label candidates (an unlisted id can be the cluster min) —
    but only ids present in ``nodes`` emit output rows.

    Every round truncates lineage via eager localCheckpoint (round k's
    plan would otherwise recompute all previous rounds — and the
    convergence check doubles it); the previous round's checkpoint is
    unpersisted as soon as the convergence check has consumed it, so
    executor storage holds at most two generations regardless of round
    count. localCheckpoint = executor-local storage (fast, lost on
    executor failure); a multi-hour production run should swap in
    reliable-storage df.checkpoint() every few rounds. A budget miss
    raises loudly — silently returning mid-propagation state would
    split true clusters. Deterministic: the min-label fixpoint is
    unique, so the result is hash-oracle-able against a recursive-CTE
    reachability oracle."""
    e = (
        edges.select(F.col(src_col).alias("_a"), F.col(dst_col).alias("_b"))
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = e.count()
    converged = False
    for _ in range(max_iter):
        # large-star: (v, m) for every neighbor v > u, m = min(N(u) ∪ {u})
        sym = e.unionByName(e.select(F.col("_b").alias("_a"), F.col("_a").alias("_b")))
        lmin = sym.groupBy("_a").agg(F.min("_b").alias("_nm")).select(
            F.col("_a").alias("_u"), F.least(F.col("_nm"), F.col("_a")).alias("_m")
        )
        large = (
            sym.join(lmin, sym["_a"] == lmin["_u"])
            .filter(F.col("_b") > F.col("_a"))
            .select(F.col("_b").alias("_a"), F.col("_m").alias("_b"))
            .distinct()
        )
        # small-star: orient hi→lo, then (v, m) for v ∈ N_lo(u) ∪ {u}\{m}
        oriented = large.select(
            F.greatest("_a", "_b").alias("_hi"), F.least("_a", "_b").alias("_lo")
        )
        smin = oriented.groupBy("_hi").agg(F.min("_lo").alias("_m"))
        small = (
            oriented.join(smin, "_hi")
            .select(F.col("_lo").alias("_a"), F.col("_m").alias("_b"))
            .unionByName(smin.select(F.col("_hi").alias("_a"), F.col("_m").alias("_b")))
            .filter(F.col("_a") != F.col("_b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_small = small.count()
        same = n_small == n_edges and (
            small.join(e, ["_a", "_b"], "left_anti").limit(1).count() == 0
        )
        e.unpersist()
        e, n_edges = small, n_small
        if same:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint after max_iter={max_iter} "
            "star rounds"
        )
    # fixpoint edges are (node → component min); min-centers and isolated
    # nodes have no outgoing edge and label themselves. The groupBy-min is
    # a guard only — at fixpoint each _a already carries exactly one _b.
    star_labels = e.groupBy("_a").agg(F.min("_b").alias("_lbl"))
    return (
        nodes.select(F.col(id_col).alias("_id"))
        .join(star_labels, F.col("_id") == F.col("_a"), "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("_lbl"), F.col("_id")).alias("cluster_id"),
        )
        .orderBy(id_col)
    )


def shingles(col: Column, k: int = SHINGLE_WORDS) -> Column:
    """k-word shingles of the whitespace tokenization (empty-safe: fewer
    than k tokens → the whole text as one shingle).

    No reference to the token array may sit inside the lambda: Catalyst
    does not CSE into a lambda body, so a ``split(col)`` there re-splits
    the whole text once per shingle (O(words²) per document). Instead the
    split is sliced k times outside the lambda — slice j starts at token
    j+1 — and ``arrays_zip`` lines the slices up, so element i of the zip
    holds tokens i..i+k-1 and the lambda only joins one struct's fields.
    The ``n < k`` branch is load-bearing, not a shortcut: with ANSI off,
    ``size(NULL)`` is -1 and a NULL text gives ``['']``; with ANSI on it
    gives NULL (pinned by test_shingles_edge_values)."""
    toks = F.split(col, " ")
    n = F.size(toks)
    z = F.arrays_zip(*[F.slice(toks, j + 1, F.greatest(n - j, F.lit(1))) for j in range(k)])
    return F.when(n < k, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(
            F.slice(z, 1, n - (k - 1)),
            lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(k)]),
        )
    )


def _chunk_min(hashes: Column, i: int) -> Column:
    """MinHash component i: lexicographic min of the i-th 8-hex-char chunk
    of the shingle md5s — ONE md5 per shingle supplies all N_MINHASHES
    components (standard strong-hash-split; md5's 128 bits = 4
    independent 32-bit hashes)."""
    lo = 1 + 8 * i
    return F.array_min(F.transform(hashes, lambda h: F.substring(h, lo, 8)))


def _band_keys(mh: list[Column]) -> list[Column]:
    """One key per band: md5 of the "|"-joined run of BAND_SIZE MinHash
    components. ``mh`` holds the N_MINHASHES component columns."""
    return [
        F.md5(F.concat_ws("|", *mh[b * BAND_SIZE : (b + 1) * BAND_SIZE]))
        for b in range(N_BANDS)
    ]


def _band_structs(mh: list[Column]) -> Column:
    """array<struct<band, band_key>> over ``_band_keys`` — exploded, it
    yields one (band, band_key) row per band from a single signature."""
    return F.array(
        *[
            F.struct(F.lit(b).alias("band"), key.alias("band_key"))
            for b, key in enumerate(_band_keys(mh))
        ]
    )


def _jaccard(a: Column, b: Column) -> Column:
    """Jaccard of two distinct-shingle arrays, rounded to 4 places as the
    oracles round it (an empty union counts as 1)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.round(inter / F.greatest(union, F.lit(1)), 4)


def minhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc MinHash signature columns mh0..mh{N_MINHASHES-1}. No shuffle.

    The shingle array AND the per-shingle md5s are materialized once via
    withColumn — Catalyst does not CSE them across the component
    expressions; without this the hashing runs N_MINHASHES times.
    """
    return (
        df.withColumn("_sh", shingles(F.col(text_col)))
        .withColumn("_shh", F.transform(F.col("_sh"), F.md5))
        .select(
            F.col(id_col),
            *[_chunk_min(F.col("_shh"), i).alias(f"mh{i}") for i in range(N_MINHASHES)],
        )
    )


def lsh_band_keys(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, band_key) — ONE source scan, ONE signature computation
    for all bands: band structs are built inline and exploded (the round-1
    per-band select+union re-scanned the source and re-hashed the
    signature once per band)."""
    sig = minhash_signatures(df, text_col, id_col)
    band_structs = _band_structs([F.col(f"mh{i}") for i in range(N_MINHASHES)])
    return sig.select(F.col(id_col), F.explode(band_structs).alias("_bb")).select(
        id_col, F.col("_bb.band").alias("band"), F.col("_bb.band_key").alias("band_key")
    )


def lsh_candidate_groups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding: docs sharing a band of the MinHash signature are
    near-dup candidates. Returns bands with >1 member."""
    return (
        lsh_band_keys(df, text_col, id_col)
        .groupBy("band", "band_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy("band", "band_key")
    )


def lsh_verified_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """The production near-dup path: LSH candidates → pair expansion within
    bands → n-gram Jaccard verification on candidates ONLY.

    Scale shape (r7 reshape): ONE scan computes shingles → per-shingle
    md5s → MinHash bands AND the distinct shingle set, which rides
    THROUGH the (band, band_key) repartition; the band-local self-join
    verifies Jaccard inline and a final (id_a, id_b) groupBy collapses a
    pair sharing several bands (identical jaccard per copy → max = the
    value). TWO exchanges end to end — band fan-out and pair dedup —
    versus the previous five (band keys, candidate distinct, shingle
    repartition, and the two id-keyed attach joins); the r7 interleaved
    A/B reads 0.63-0.76× per pair at sf0.1 with identical output. The
    trade, explicitly: shingle sets cross the wire once per band
    (N_BANDS×, vs 1× + two id-joins before), and a pair sharing k bands
    verifies k times (bounded by N_BANDS; near-dup pairs are a
    vanishing fraction of corpus rows, and the verify is threshold-
    filtered BEFORE the dedup exchange so rejected candidates never
    shuffle twice). Never a cross product. A DEGENERATE band key (e.g.
    all boilerplate/empty docs sharing one signature) turns its bucket
    quadratic: pass ``max_bucket`` to exclude buckets above that size
    from pair expansion — NOT a silent cap: the excluded bands are
    exactly ``lsh_candidate_groups(...).filter(n_docs > max_bucket)``,
    which a pipeline should route to exact dedup / re-banding instead.
    """
    # one staging pass: the shingle array and its md5s are materialized
    # via withColumn (Catalyst does not CSE); bands derive from the md5
    # chunks, the verify set from the raw shingles — same scan
    staged = (
        df.withColumn("_sh", shingles(F.col(text_col)))
        .withColumn("_shh", F.transform(F.col("_sh"), F.md5))
        .withColumn("_shd", F.array_distinct(F.col("_sh")))
    )
    band_structs = _band_structs([_chunk_min(F.col("_shh"), i) for i in range(N_MINHASHES)])
    # repartition on the join keys BEFORE aliasing the two sides: both
    # sides then share an identical Exchange subplan and Spark's
    # ReuseExchange computes the scan+shingle+band stage ONCE
    keys = (
        staged.select(F.col(id_col), F.col("_shd"), F.explode(band_structs).alias("_bb"))
        .select(
            id_col,
            F.col("_bb.band").alias("band"),
            F.col("_bb.band_key").alias("band_key"),
            "_shd",
        )
        .repartition("band", "band_key")
    )
    if max_bucket is not None:
        sizes = keys.groupBy("band", "band_key").agg(F.count(F.lit(1)).alias("_bn"))
        keys = (
            keys.join(sizes.filter(F.col("_bn") <= max_bucket), ["band", "band_key"])
            .drop("_bn")
            .repartition("band", "band_key")
        )
    a = keys.select(F.col(id_col).alias("id_a"), "band", "band_key", F.col("_shd").alias("sh_a"))
    b = keys.select(F.col(id_col).alias("id_b"), "band", "band_key", F.col("_shd").alias("sh_b"))
    pairs = a.join(b, ["band", "band_key"]).filter(F.col("id_a") < F.col("id_b"))
    jac = _jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        pairs.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .groupBy("id_a", "id_b")
        .agg(F.max("jaccard").alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_id: int | None = None,
) -> DataFrame:
    """n-gram Jaccard similarity for candidate pairs. Without an LSH
    pre-filter this is quadratic — ``max_id`` bounds the block for tests;
    production path: join ``lsh_candidate_groups`` output instead."""
    base = df
    if max_id is not None:
        base = base.filter(F.col(id_col) < max_id)
    docs = base.select(F.col(id_col), F.array_distinct(shingles(F.col(text_col))).alias("sh"))
    a = docs.alias("a")
    b = docs.alias("b")
    pairs = a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    return (
        pairs.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            _jaccard(F.col("a.sh"), F.col("b.sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def token_hashes(col: Column, width: int = 16) -> Column:
    """md5-derived hash per distinct whitespace token.

    width=16: first 4 hex chars (fits the DuckDB oracle's ('0x'||..)::BIGINT).
    width=64: first 16 hex chars composed from two 32-bit halves — conv() of
    the full 16 chars would exceed signed-long range, so hi<<32 | lo (wraps
    to the signed-long bit pattern, matching a two's-complement Python ref).
    """
    toks = F.array_distinct(F.split(col, " "))
    if width == 64:
        def h64(t: Column) -> Column:
            hi = F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")
            lo = F.conv(F.substring(F.md5(t), 9, 8), 16, 10).cast("long")
            return F.shiftleft(hi, 32).bitwiseOR(lo)

        return F.transform(toks, h64)
    return F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long")
    )


def _bit_masks(width: int) -> Column:
    """Literal array of single-bit masks; bit 63 is the signed-long min
    (the Python literal 1<<63 would overflow LongType — the negative
    two's-complement form is the same bit pattern)."""
    return F.array(
        *[F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long") for j in range(width)]
    )


def simhash_from_hashes(ths: Column, width: int = 16) -> Column:
    """SimHash bit votes over a PRE-MATERIALIZED hash array column.

    Single-pass formulation: ONE fold over the hash array accumulates the
    whole width-wide vote vector (per element: zip the accumulator with a
    literal mask array, ±1 by `h & mask`), then one zip+fold combines
    winning bits into the signed-long fingerprint. The previous per-bit
    form ran `width` separate aggregates over the array — measured 1.40×
    slower at width=64 on sf0.1 documents (identical fingerprints; votes
    are integer sums, so any evaluation order is bitwise equivalent).
    Pass a column materialized via ``withColumn`` (as simhash_fingerprints
    does); ths is referenced once here, but materialization keeps the
    upstream tokenization from re-running under other compositions."""
    masks = _bit_masks(width)
    votes = F.aggregate(
        ths,
        F.array_repeat(F.lit(0).cast("long"), width),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, b: acc.bitwiseOR(b),
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", width: int = 16
) -> DataFrame:
    """(id, simhash). The fingerprint is wrapped in materialize_once
    (r7): the band self-join downstream infers not-null filters on its
    keys and pushdown inlined the ENTIRE vote fold into a scan-level
    filter (2 extra interpreted evaluations per row, at the 1-2-split
    scan parallelism — the r7 plans showed 4 such filters in
    simhash_pairs/simhash64_pairs). Values are unchanged."""
    from ngxspark.plankit import materialize_once

    return (
        df.withColumn("_ths", token_hashes(F.col(text_col), width=width))
        .select(
            F.col(id_col),
            materialize_once(
                simhash_from_hashes(F.col("_ths"), width=width)
            ).alias("simhash"),
        )
    )


def pigeonhole_bands(width: int, max_hamming: int) -> list[tuple[int, int]]:
    """(lo_bit, n_bits) per band: max_hamming+1 contiguous bands covering
    `width` bits. Pigeonhole: two fingerprints at Hamming <= max_hamming
    differ in <= max_hamming bands, so they agree EXACTLY on >= 1 band —
    the band equi-join has 100% recall (unlike the round-2 high-byte
    bucket, which missed any pair whose differing bits fell in bits 8-15).

    Guard: max_hamming must sit in [0, width) — width <= max_hamming would
    mint zero-size bands whose key is 0 for EVERY row (the equi-join then
    silently degrades to an all-pairs cross join), and a single full-width
    64-bit band would need the (1<<64)-1 mask that overflows LongType."""
    if not 0 <= max_hamming < width:
        raise ValueError(
            f"pigeonhole_bands: need 0 <= max_hamming < width, got "
            f"max_hamming={max_hamming}, width={width}"
        )
    nb = max_hamming + 1
    if (width + nb - 1) // nb >= 64:
        raise ValueError(
            f"pigeonhole_bands: a band would span >= 64 bits (width={width}, "
            f"max_hamming={max_hamming}) — its mask overflows Spark LongType"
        )
    base, extra = divmod(width, nb)
    out, lo = [], 0
    for i in range(nb):
        size = base + (1 if i < extra else 0)
        out.append((lo, size))
        lo += size
    return out


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 2,
    width: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance — EXACT for
    Hamming <= max_hamming via pigeonhole banding: explode each fingerprint
    to (band, band_bits) keys, equi-join band-locally, Hamming-verify on the
    full fingerprint, distinct (a pair agreeing on several bands would
    otherwise duplicate). Still one shuffle on the band key; no all-pairs
    join at any scale."""
    sigs = simhash_fingerprints(df, text_col, id_col, width=width)
    return simhash_pairs_from_fingerprints(sigs, id_col=id_col, max_hamming=max_hamming, width=width)


def simhash_pairs_from_fingerprints(
    sigs: DataFrame, id_col: str = "doc_id", max_hamming: int = 2, width: int = 16
) -> DataFrame:
    """Pigeonhole band-join over a (id, simhash) DataFrame — split out so
    tests can feed synthetic fingerprints (e.g. a planted pair differing
    only in bit 12, which the round-2 high-byte bucket provably missed)."""
    bands = pigeonhole_bands(width, max_hamming)
    band_keys = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), lo)
                .bitwiseAND(F.lit((1 << size) - 1))
                .alias("key"),
            )
            for i, (lo, size) in enumerate(bands)
        ]
    )
    keyed = sigs.select(
        F.col(id_col), F.col("simhash"), F.explode(band_keys).alias("bk")
    ).select(id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    # repartition on the join key BEFORE aliasing → AQE reuses the
    # fingerprint+explode stage for both self-join sides (one hash pass)
    keyed = keyed.repartition(F.col("band"), F.col("key"))
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        pairs.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
# algorithm): hash every char k-gram of the normalized text, then keep the
# minimum hash of each w-window of consecutive k-gram hashes. Any shared
# substring of length >= k+w-1 between two documents GUARANTEES a shared
# fingerprint — the local-similarity dual of SimHash's global similarity.
#
# Rolling-hash note: the classic incremental Rabin-Karp update
# (h_i = h_{i-1}*B - c_{i-k}*B^k + c_i) is a sequential per-char dependency
# that defeats columnar vectorization; hashing each window independently
# (md5 of the k-char substring) computes the SAME per-window hash stream at
# O(k) per window entirely inside JVM codegen, and is engine-reproducible
# for the DuckDB oracle. k is a constant, so the asymptotic scan cost per
# document is unchanged.
# ---------------------------------------------------------------------------


def kgram_hashes(norm: Column, k: int = 8) -> Column:
    """32-bit hash per char k-gram of an (already materialized) normalized
    text column. Pass a ``withColumn``-materialized input — referencing a
    regexp_replace inline here would re-normalize once per window."""
    n_grams = F.length(norm) - F.lit(k - 1)
    return F.when(
        n_grams >= 1,
        F.transform(
            F.sequence(F.lit(1), n_grams),
            lambda j: F.conv(
                F.substring(F.md5(F.substring(norm, j, F.lit(k))), 1, 8), 16, 10
            ).cast("long"),
        ),
    ).otherwise(F.array().cast("array<long>"))


def winnow_select(hashes: Column, w: int = 4) -> Column:
    """Sorted distinct per-window minima of the k-gram hash stream (the
    set-of-fingerprints form of winnowing). Texts shorter than one window
    contribute their single minimum; empty hash streams contribute none."""
    n_wins = F.size(hashes) - F.lit(w - 1)
    wins = (
        F.when(
            n_wins >= 1,
            F.transform(
                F.sequence(F.lit(1), n_wins),
                lambda j: F.array_min(F.slice(hashes, j, w)),
            ),
        )
        .when(F.size(hashes) >= 1, F.array(F.array_min(hashes)))
        .otherwise(F.array().cast("array<long>"))
    )
    return F.array_sort(F.array_distinct(wins))


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8, w: int = 4
) -> DataFrame:
    """(id, fp) rows: one row per selected fingerprint per document."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return (
        df.withColumn("_norm", norm)
        .withColumn("_khs", kgram_hashes(F.col("_norm"), k))
        .select(F.col(id_col), F.explode(winnow_select(F.col("_khs"), w)).alias("fp"))
    )


def winnow_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup candidates by shared winnowing fingerprints: explode to
    (fp, id), equi-join per fingerprint, count shared fps per pair, keep
    pairs sharing >= min_shared. Scale shape: one corpus scan computes the
    fingerprints; the join is bucket-local per fp (fingerprints are the
    buckets); ``max_bucket`` is the explicit skew guard for pathological
    boilerplate fps shared by huge fractions of the corpus."""
    fps = winnow_fingerprints(df, text_col, id_col, k, w)
    # repartition on the join key BEFORE aliasing → one fingerprint pass
    fps = fps.repartition(F.col("fp"))
    if max_bucket is not None:
        # r7: bucket-size guard as a COUNT WINDOW over the fp partitions
        # the join needs anyway — the previous groupBy+join formulation
        # added two exchanges (sizes agg + re-join); the window rides the
        # existing fp repartition and preserves its partitioning, so the
        # self-join below still needs no further exchange. Same guard
        # semantics: fps in buckets larger than max_bucket are excluded.
        fps = (
            fps.withColumn(
                "_bn", F.count(F.lit(1)).over(Window.partitionBy("fp"))
            )
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    a, b = fps.alias("a"), fps.alias("b")
    pairs = a.join(
        b, (F.col("a.fp") == F.col("b.fp")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    return (
        pairs.groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("id_a", "id_b")
    )


def dedup_priority(
    df: DataFrame,
    priority_col: str = "priority",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Source-priority exact dedup — the Pile/Dolma cross-source rule:
    when the same content appears in several sources, keep the copy from
    the most-trusted source (lowest ``priority_col``), breaking ties on
    min id. ``dedup_exact`` is the special case of a constant priority.

    100 TB shape: identical to dedup_exact — ONE shuffle keyed by the
    32-byte md5 digest (the window ranks tiny same-digest groups);
    priorities ride along as a column, typically joined on beforehand
    from a broadcast source->priority table. Deterministic total order
    (priority, id) makes the survivor set hash-oracle-able."""
    w_key = F.md5(F.col(text_col))
    ranked = df.withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy(w_key).orderBy(priority_col, id_col)
        ),
    )
    return ranked.filter(F.col("_rk") == 1).drop("_rk")


def dedup_soft_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: int = 10**9,
) -> DataFrame:
    """SOFT exact dedup (the SoftDeDup / data-reweighting alternative to
    removal, He et al. 2024): keep EVERY copy but assign each doc the
    sampling weight 1/n_copies as a floor-scaled BIGINT
    (``scale DIV n_copies`` — exact integer arithmetic, hash-oracles).
    Each unique content then contributes total weight ~1 to the training
    distribution — dedup in expectation — while duplicated documents
    retain their distinct surrounding metadata/contexts for samplers
    that want them. Downstream mixers consume ``weight`` directly
    (e.g. as a Bernoulli keep probability or a loss weight).

    100 TB shape: ONE shuffle keyed by the md5 digest — the copy count
    is an unordered window count over the digest partition (no join, no
    second scan, same plan family as dedup_exact's ranking window).
    The digest is projected once and the window partitions on the
    projected column (Catalyst does not CSE a repeated md5)."""
    return (
        df.withColumn("text_hash", F.md5(F.col(text_col)))
        .withColumn("n_copies", F.count(F.lit(1)).over(Window.partitionBy("text_hash")))
        .withColumn(
            "weight", F.expr(f"CAST({int(scale)} AS BIGINT) DIV n_copies")
        )
        .select(F.col(id_col), "text_hash", "n_copies", "weight")
        .orderBy(id_col)
    )


# --- Bloom-filter incremental dedup (Bloom 1970; the Dolma deduper's
# membership structure). incremental_dedup joins the batch against the
# corpus's full digest INDEX — exact, but the index is 16 bytes/doc and
# must be co-shuffled with every batch. The Bloom form compresses the
# corpus digest set ~100x into a fixed bitmap (m bits for any corpus
# size), at the price of a deterministic, tunable false-positive rate
# (a genuinely-new doc may be dropped; NO duplicate ever survives).
# All hashing is md5-derived so the DuckDB oracle reproduces the exact
# same bitmap, probes, and false positives bit-for-bit.

BLOOM_M_BITS = 1 << 16
BLOOM_K = 3
_BLOOM_WORD = 32  # bits per bitmap word — masks stay positive in BIGINT


def _bloom_pos(digest: Column, i: int, m_bits: int) -> Column:
    """Probe position i for a digest: first 8 md5 hex chars of
    ``digest:i`` as a u32, mod ``m_bits`` (same u32 derivation as
    quality_classifier's feature bucket — pinned cross-engine)."""
    h = F.md5(F.concat(digest, F.lit(f":{i}")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % m_bits


def _bloom_mask(pos: Column) -> Column:
    """Bit mask for a position within its 32-bit word. 2^b is exact in
    IEEE double for b <= 31, so the pow->long cast is exact (Spark's
    shiftleft builtin takes only a literal shift from Python)."""
    return F.pow(F.lit(2.0), (pos % _BLOOM_WORD).cast("double")).cast("long")


def bloom_bitmap(
    corpus_df: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    text_col: str = "text",
) -> DataFrame:
    """Build the corpus Bloom bitmap as a (word_idx BIGINT, word BIGINT)
    table: k md5-derived positions per distinct content digest, OR-folded
    into 32-bit words.

    100 TB shape: ONE shuffle keyed by word_idx with a map-side-combined
    bit_or partial agg; output is at most m_bits/32 rows regardless of
    corpus size (the whole point), and — like incremental_dedup's digest
    index — is maintained append-only at scale (new batches' bits OR in;
    Bloom bitmaps union by construction) rather than rebuilt per batch."""
    digests = corpus_df.select(F.md5(F.col(text_col)).alias("_d")).distinct()
    pos = digests.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("_d"), i, m_bits) for i in range(k)])
        ).alias("_p")
    )
    return (
        pos.select(
            (F.col("_p") / _BLOOM_WORD).cast("long").alias("word_idx"),
            _bloom_mask(F.col("_p")).alias("_m"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("_m").alias("word"))
    )


def bloom_incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-gated per-snapshot ingestion dedup: keep new-batch docs that
    are (a) first within the batch per exact digest (min id wins) and
    (b) NOT possibly-in-corpus per the Bloom probe — i.e. at least one
    of the k probe bits is unset. Deterministic false positives (all k
    bits set by other digests' insertions) drop a small, md5-determined
    set of genuinely-new docs — the standard Bloom trade, disclosed and
    reproduced exactly by the oracle; no corpus duplicate ever survives.

    100 TB shape: the bitmap is <= m_bits/32 rows — BROADCAST it and the
    probe is k broadcast hash joins with ZERO shuffle on the batch side
    (vs incremental_dedup's digest-set shuffle join); only the
    within-batch keep-first window shuffles, keyed by digest. When m_bits
    outgrows the broadcast threshold (hundreds of billions of bits),
    explode the k probes and equi-join on word_idx instead — the bitmap
    is still ~100x smaller than the digest index it replaces."""
    bitmap = bloom_bitmap(corpus_df, m_bits, k, text_col)
    ranked = new_df.withColumn("_h", F.md5(F.col(text_col))).withColumn(
        "_rk", F.row_number().over(Window.partitionBy("_h").orderBy(id_col))
    )
    first = ranked.filter(F.col("_rk") == 1).select(id_col, "_h")
    return (
        bloom_probe(first, bitmap, m_bits, k)
        .filter(F.col("_hits") < k)
        .select(F.col(id_col), F.col("_h").alias("text_hash"))
        .orderBy(id_col)
    )


def bloom_probe(
    df: DataFrame, bitmap: DataFrame, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> DataFrame:
    """Attach ``_hits`` (0..k set probe bits) to a DataFrame carrying a
    ``_h`` digest column — k BROADCAST hash joins against the bitmap,
    zero shuffle on ``df``'s side. Works unchanged on a streaming df
    (stream-static broadcast joins are append-compatible)."""
    bitmap = F.broadcast(bitmap)
    probe = df
    for i in range(k):
        p = _bloom_pos(F.col("_h"), i, m_bits)
        probe = (
            probe.withColumn(f"_w{i}", (p / _BLOOM_WORD).cast("long"))
            .withColumn(f"_m{i}", _bloom_mask(p))
            .join(
                bitmap.select(
                    F.col("word_idx").alias(f"_w{i}"),
                    F.col("word").alias(f"_word{i}"),
                ),
                f"_w{i}",
                "left",
            )
        )
    hits = reduce(
        lambda a, b: a + b,
        (
            F.when(
                F.col(f"_word{i}").isNotNull()
                & (F.col(f"_word{i}").bitwiseAND(F.col(f"_m{i}")) != 0),
                1,
            ).otherwise(0)
            for i in range(k)
        ),
    )
    return probe.withColumn("_hits", hits).drop(
        *[c for i in range(k) for c in (f"_w{i}", f"_m{i}", f"_word{i}")]
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """WIMBD-style cross-corpus overlap audit: for every pair of sources
    (src_a < src_b), how many DISTINCT document contents (md5 digests)
    appear in both. The standard pre-mixing diligence table — it tells
    you which corpora are secretly the same crawl before dedup_priority
    picks winners.

    Scale shape: ONE digest shuffle (groupBy digest with collect_set of
    sources — set bounded by the source count, a few hundred at most,
    regardless of how many duplicate DOCS share the digest), pair
    fan-out bounded by sources² per digest, then a tiny (src_a, src_b)
    agg with map-side partials. No self-join, no all-pairs over docs.
    """
    by_digest = (
        df.select(
            F.col(source_col).alias("_src"), F.md5(F.col(text_col)).alias("_digest")
        )
        .groupBy("_digest")
        .agg(F.array_sort(F.collect_set("_src")).alias("_srcs"))
    )
    # ordered pairs from the sorted source array; 2-arg transform lambda
    # receives (element, index) — exactly what the slice needs
    pairs = by_digest.filter(F.size("_srcs") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(_srcs, (a, i) -> "
                "transform(slice(_srcs, i + 2, size(_srcs) - i - 1), "
                "b -> struct(a AS src_a, b AS src_b))))"
            )
        ).alias("p")
    )
    return (
        pairs.groupBy(
            F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_digests"))
        .orderBy("src_a", "src_b")
    )
