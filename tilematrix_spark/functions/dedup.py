"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale shapes:
* exact: one salted hash-groupBy on the md5 of normalized text.
* n-gram Jaccard: shingle explode → self equi-join on shingle (the inverted
  index) → per-pair common counts → Jaccard.  The shingle join is the skew
  point: hot shingles are capped (``max_docs_per_shingle``) exactly like
  stop-shingle filtering in production dedup pipelines.
* MinHash/LSH: H per-shingle md5 min-aggregations in ONE pass over the
  exploded shingles (no H× shuffles), band hashes = md5 of concatenated
  signature slices, candidate pairs join per band.  All md5-string-based →
  byte-identical in the DuckDB oracle.
* SimHash: 16-bit portable variant, one md5 per token — near-dups share
  bucket when Hamming distance ≤ radius via precomputed bit-flip explode.
* embedding cosine: see functions/similarity.py.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import text as textfns


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(fp, n_dups, keep_id, dup_ids): exact-duplicate groups by normalized
    md5 fingerprint; ``keep_id`` is the smallest id (canonical survivor)."""
    fp = df.select(F.col(id_col), textfns.fingerprint(text_col).alias("fp"))
    return (
        fp.groupBy("fp")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one row (smallest id) per distinct normalized text."""
    w = Window.partitionBy(textfns.fingerprint(text_col)).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


def _shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(_id, _sh): each doc's distinct shingle array."""
    # two-step: tokens materialized as a bound column BEFORE the shingle
    # transform — prevents Catalyst from inlining the tokenizer into every
    # element_at (quadratic blowup; see shingles_from_tokens docstring)
    toks = df.select(
        F.col(id_col).alias("_id"),
        textfns.tokens(textfns.normalize(text_col)).alias("_toks"),
    )
    return toks.select("_id", textfns.shingles_from_tokens(F.col("_toks"), n).alias("_sh"))


def _shingle_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return _shingle_arrays(df, id_col, text_col, n).select(
        "_id", F.explode("_sh").alias("shingle")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_docs_per_shingle: Optional[int] = 1000,
) -> DataFrame:
    """Exact word-n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ τ).

    inverted-index self-join; per-doc shingle counts broadcast back in.
    """
    # materialize once: the shingle table feeds the hot-shingle scan, the
    # per-doc counts, and BOTH self-join sides — 4 re-executions otherwise
    sh = _shingle_table(df, id_col, text_col, n).localCheckpoint(eager=False)
    if max_docs_per_shingle:
        hot = (
            sh.groupBy("shingle").agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_docs_per_shingle)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    counts = sh.groupBy("_id").agg(F.count("*").alias("_n_sh"))
    a = sh.withColumnRenamed("_id", "id_a")
    b = sh.withColumnRenamed("_id", "id_b")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("_common"))
    )
    ca = counts.withColumnRenamed("_id", "id_a").withColumnRenamed("_n_sh", "_na")
    cb = counts.withColumnRenamed("_id", "id_b").withColumnRenamed("_n_sh", "_nb")
    out = (
        common.join(F.broadcast(ca), "id_a")
        .join(F.broadcast(cb), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("_common").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def _minhash_projected(sh: DataFrame, num_hashes: int):
    """H min-hash aggregations from only ceil(H/4) md5 evaluations per
    shingle: each md5's 32 hex chars are split into four independent 8-hex
    (32-bit) sub-hashes — sig_i = MIN(substring(md5(shingle||'#g'), 1+8j, 8))
    with (g, j) = divmod(i, 4).  md5 is the dominant cost of the signature
    pass (measured 3.3s of a 5.0s stage at 16 full-width hashes vs 0.2s at
    4), so this is ~4x less hash compute for the same H; 32-bit min-hash
    granularity is the standard at corpus scale.  Hex-string MIN keeps every
    value portable to the SQL oracle byte-for-byte.

    The md5s are materialized as bound PROJECTION columns before the groupBy:
    each of the H min-aggs evaluates its input expression independently
    (aggregate expressions get no cross-agg subexpression elimination), so
    substring-of-md5 inside the agg would still run H md5s — over a bound
    column it is H cheap substrings over G=⌈H/4⌉ md5s.

    Returns (projected_df, agg_exprs); group the former by ``_id``.
    """
    groups = (num_hashes + 3) // 4
    proj = sh.select(
        "_id",
        *[
            F.md5(F.concat(F.col("shingle"), F.lit(f"#{g}"))).alias(f"_h{g}")
            for g in range(groups)
        ],
    )
    aggs = [
        F.min(F.substring(F.col(f"_h{i // 4}"), 1 + 8 * (i % 4), 8)).alias(f"sig{i}")
        for i in range(num_hashes)
    ]
    return proj, aggs


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signature per doc: the min of a uniform hex hash STRING per
    hash function (see ``_minhash_projected`` — 4 sub-hashes per md5),
    portable across engines.  One shuffle for all H signatures."""
    sh = _shingle_table(df, id_col, text_col, n)
    proj, aggs = _minhash_projected(sh, num_hashes)
    return proj.groupBy("_id").agg(*aggs).withColumnRenamed("_id", id_col)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket
    (band hash = md5 of its signature slice).  Returns distinct
    (id_a < id_b) candidates; feed into ngram_jaccard or minhash-similarity
    for verification."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, id_col, text_col, n, num_hashes)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig{b * rows_per_band + j}") for j in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("bucket"))
        )
    buckets = sigs.select(
        F.col(id_col).alias("_id"), F.explode(F.array(*band_cols)).alias("bb")
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # self-join: without a materialization barrier both sides re-execute the
    # whole shingle -> minhash pipeline (the expensive part) from the scan
    buckets = buckets.localCheckpoint(eager=False)
    a = buckets.withColumnRenamed("_id", "id_a")
    b2 = buckets.withColumnRenamed("_id", "id_b")
    return (
        a.join(b2, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_verified_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """The production dedup pipeline in one operator: MinHash-LSH candidate
    blocking, then EXACT Jaccard verification computed only on the candidate
    pairs (filter-refine — the same two-phase discipline as the spatial
    join).  At scale the shingle self-join of ``ngram_jaccard_pairs`` is
    quadratic in hot shingles; here the refine touches only the candidate
    pairs.  Returns (id_a, id_b, jaccard ≥ τ).

    The per-doc shingle arrays are checkpointed once; the signature pass
    explodes them and the refine reads them whole.  Each candidate pair is
    scored as a set intersection, ``common = size(array_intersect(a, b))``
    over ``jaccard = common / (size(a) + size(b) - common)`` — the arrays
    are distinct, so these are exactly the shingle-join counts, without a
    shingle-level join or a separate per-doc count aggregation."""
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    rows_per_band = num_hashes // bands
    arrs = _shingle_arrays(df, id_col, text_col, n).localCheckpoint(eager=False)
    sh = arrs.select("_id", F.explode("_sh").alias("shingle"))
    proj, aggs = _minhash_projected(sh, num_hashes)
    sigs = proj.groupBy("_id").agg(*aggs)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig{b * rows_per_band + j}") for j in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("bucket"))
        )
    buckets = sigs.select(
        "_id", F.explode(F.array(*band_cols)).alias("bb")
    ).select("_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    buckets = buckets.localCheckpoint(eager=False)
    a = buckets.withColumnRenamed("_id", "id_a")
    b2 = buckets.withColumnRenamed("_id", "id_b")
    cands = (
        a.join(b2, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # exact refine on candidates only (the candidate side is the small
    # side — broadcast); explode(array(common)) is a Generate barrier, so
    # the intersection runs once per pair instead of being inlined into
    # the join condition by the threshold filter
    sa = arrs.select(F.col("_id").alias("id_a"), F.col("_sh").alias("_sa"))
    sb = arrs.select(F.col("_id").alias("id_b"), F.col("_sh").alias("_sb"))
    scored = (
        F.broadcast(cands)
        .join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size("_sa").alias("_na"),
            F.size("_sb").alias("_nb"),
            F.explode(F.array(F.size(F.array_intersect("_sa", "_sb")))).alias("_common"),
        )
    )
    jac = F.col("_common").cast("double") / (
        F.col("_na") + F.col("_nb") - F.col("_common")
    )
    return scored.filter(jac >= threshold).select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    )


#: integral-id graphs of at most this many distinct pairs resolve in one
#: driver-side numpy pass; larger graphs and other id types run the
#: distributed frontier loop
DRIVER_CC_MAX_EDGES = 4_000_000


def _driver_min_label(a: np.ndarray, b: np.ndarray) -> pd.DataFrame:
    """Vectorized driver-side min-label resolution of an edge list:
    repeated edge relaxation (np.minimum.at both directions) + pointer
    jumping until fixpoint — O(E·log diameter) numpy passes, no python
    loop over edges.  Node ids are sorted ascending so index order ==
    id order and the fixpoint label IS the min member id."""
    nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a):]
    lbl = np.arange(len(nodes), dtype=np.int64)
    while True:
        prev = lbl.copy()
        np.minimum.at(lbl, ia, lbl[ib])
        np.minimum.at(lbl, ib, lbl[ia])
        lbl = np.minimum(lbl, lbl[lbl])
        if np.array_equal(lbl, prev):
            break
    return pd.DataFrame({"doc_id": nodes, "component": nodes[lbl]})


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """(doc_id, component): connected components of the near-dup pair graph,
    component = smallest reachable id — the dedup ENDGAME: pair emitters
    (MinHash-LSH / SimHash / phash blocking) produce edges, but survivor
    selection needs one keeper per CLUSTER, so the transitive chain a-b-c
    that pairwise output leaves open must be closed.

    Iterative min-label propagation + pointer doubling (the driver-loop
    iterate primitive, as in the kNN rounds): each round pushes labels from
    the FRONTIER (only vertices whose label changed last round — delta
    iteration, so the geometric tail of late rounds costs frontier-sized
    joins, not full-table passes) along the symmetrized edge list, takes
    the min label per vertex, then shortcuts ``component <-
    component(component)`` — the pointer-jumping step that turns
    O(diameter) convergence into O(log diameter) (a 40-vertex path
    converges in 7 rounds instead of 39).  Stops when no label decreased;
    correctness of the delta form: the first round pushes every label, and
    afterwards a vertex can only improve via a neighbor that itself just
    improved (frontier member) or via its component's own label (the
    shortcut joins the CURRENT full label table).  The edge list is
    checkpointed once and re-used.  Only vertices appearing in ≥1 pair are
    emitted (every other doc is its own singleton component).

    Small graphs skip the loop: an integral-id graph of at most
    ``DRIVER_CC_MAX_EDGES`` distinct pairs is collected and resolved in one
    vectorized numpy pass (``_driver_min_label``), which removes the
    loop's serial per-round job latency (measured: the O(log diameter)
    eager rounds, not the kernels, floored label_components' 2304-tile
    wall at ~10s).  Both paths give the same labels (pytest-pinned).
    """
    # ids keep their natural type: the algorithm only needs min/least over
    # an orderable id (long doc ids, uuid strings, ...) — a forced long
    # cast would fail ANSI-mode on string corpora
    und = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = und.unionByName(und.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    src = edges.schema["src"]
    if isinstance(src.dataType, T.IntegralType):
        und = und.distinct()
        if und.limit(DRIVER_CC_MAX_EDGES + 1).count() <= DRIVER_CC_MAX_EDGES:
            pdf = und.toPandas()
            comp = _driver_min_label(
                pdf["src"].to_numpy(np.int64), pdf["dst"].to_numpy(np.int64)
            )
            # the loop's output type and nullability: both columns follow src
            schema = T.StructType(
                [T.StructField(c, src.dataType, src.nullable) for c in comp.columns]
            )
            return pairs.sparkSession.createDataFrame(comp, schema)
    edges = edges.distinct().localCheckpoint(eager=True)
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("_nbr"))
        .select(
            F.col("src").alias("doc_id"),
            F.least(F.col("src"), F.col("_nbr")).alias("component"),
        )
        .localCheckpoint(eager=True)
    )
    frontier = labels
    for _ in range(max_iters):
        prop = (
            edges.join(
                frontier.select(F.col("doc_id").alias("src"), "component"), "src"
            )
            .groupBy("dst")
            .agg(F.min("component").alias("_cand"))
            .select(F.col("dst").alias("doc_id"), "_cand")
        )
        # the shortcut self-join reads stepped on both sides, re-running the
        # edge join twice per round; an eager checkpoint here trades that
        # recompute for a full materialization — A/B-measured a wash on this
        # box, so keep the lighter plan (fewer jobs, no extra storage)
        stepped = labels.join(prop, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("component"), F.coalesce(F.col("_cand"), F.col("component"))).alias("component"),
            (F.col("_cand") < F.col("component")).alias("_chg"),
        )
        # pointer doubling: a vertex labeled with c inherits c's own (maybe
        # smaller) label — component values are always vertex ids, so the
        # shortcut is a self-join of the label table
        sc = stepped.select(
            F.col("doc_id").alias("component"), F.col("component").alias("_cc")
        )
        jumped = (
            stepped.join(sc, "component", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("_cc"), F.col("component")).alias("component"),
                (F.col("_chg") | (F.col("_cc") < F.col("component"))).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        prev = labels
        labels = jumped.select("doc_id", "component")
        frontier = jumped.filter(F.col("_chg")).select("doc_id", "component")
        converged = frontier.isEmpty()
        prev.unpersist()
        if converged:
            break
    else:
        # pointer doubling covers diameter ~2^max_iters, so a live frontier
        # here means something is genuinely wrong — surface it rather than
        # silently returning labels that would keep >1 survivor per cluster
        edges.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} rounds "
            "(frontier still non-empty); raise max_iters"
        )
    edges.unpersist()
    return labels


def dedup_cluster_survivors(
    df: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one row per near-dup cluster (the smallest id — which IS the
    component label) plus every unpaired doc: anti-join the non-survivor
    cluster members out of the corpus."""
    losers = components.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def _simhash_vote(mask: int):
    return lambda acc, x: acc + F.when(x.bitwiseAND(F.lit(mask)) > 0, F.lit(1)).otherwise(F.lit(-1))


def simhash_buckets(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, simhash) — a 16-bit SimHash over the normalized whitespace
    tokens, for near-dup blocking; Hamming-≤1 matching = explode 17
    bit-flips and self-join (``simhash_near_pairs``).

    Token t's 16-bit hash is the first 4 hex chars of md5(t); bit b of the
    sketch (weight ``1 << (15-b)``) is set iff more tokens have that hash
    bit set than clear — small on purpose so the SQL oracle mirrors the
    per-bit vote table exactly.  The tokens and their hashes are bound
    columns in their own projections, so each token is hashed once; md5
    inside each vote would run 16 times per token (projection collapse).
    No lambda nests another (the nested-lambda corruption trap)."""
    toks = df.select(
        F.col(id_col), textfns.tokens(textfns.normalize(text_col)).alias("_toks")
    )
    hashed = toks.select(
        F.col(id_col),
        F.transform(
            "_toks", lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("int")
        ).alias("_h"),
    )
    sketch = None
    for b in range(16):
        mask = 1 << (15 - b)
        votes = F.aggregate("_h", F.lit(0), _simhash_vote(mask))
        bit = F.when(votes > 0, F.lit(mask)).otherwise(F.lit(0))
        sketch = bit if sketch is None else sketch + bit
    return hashed.select(F.col(id_col), sketch.cast("int").alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", radius: int = 1
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ radius via bit-flip explode —
    a join on equal sketch values after enumerating C(16,≤r) flips."""
    sk = simhash_buckets(df, id_col, text_col)
    flips = [0]
    if radius >= 1:
        flips += [1 << i for i in range(16)]
    if radius >= 2:
        flips += [(1 << i) | (1 << j) for i in range(16) for j in range(i + 1, 16)]
    probe = sk.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("sh_a"),
        F.explode(F.array(*[F.lit(x) for x in flips])).alias("_flip"),
    ).withColumn("probe", F.col("sh_a").bitwiseXOR(F.col("_flip")))
    base = sk.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("probe"))
    return (
        probe.join(base, "probe")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    rolling-hash scheme): hash every POSITIONAL word n-gram, slide a window
    of ``w`` consecutive hashes, keep each window's minimum — the selected
    distinct hashes are the fingerprint set.  Guarantees a shared
    fingerprint for any shared run of ≥ n+w-1 tokens, with ~2/(w+1) of the
    grams selected.

    Execution shape: tokens materialized as a bound column (tokenizer
    inlining trap), positional grams via one explode (a Generate boundary —
    no nested array lambdas, which projection collapse silently corrupts),
    8-hex-char md5 prefixes as the rolling hashes (portable: fixed-length
    hex MIN is identical in Spark and the SQL oracle), then the sliding min
    as a NATIVE window aggregation — one shuffle on the doc id, partial
    nothing (window), distinct folds map-side.  Docs shorter than one full
    window (m < w) emit the min over all their grams (one fingerprint), so
    every doc with ≥ n tokens is fingerprinted.

    Returns distinct (id, fp) rows.
    """
    toks = df.select(
        F.col(id_col).alias("_id"),
        textfns.tokens(textfns.normalize(text_col)).alias("_toks"),
    ).withColumn("_m", F.size("_toks") - (n - 1))
    grams = toks.filter(F.col("_m") >= 1).select(
        "_id",
        "_m",
        F.explode(F.sequence(F.lit(1), F.col("_m"))).alias("pos"),
        F.col("_toks"),
    )
    gram = F.concat_ws(
        " ", *[F.element_at(F.col("_toks"), (F.col("pos") + j).cast("int")) for j in range(n)]
    )
    hashed = grams.select(
        "_id",
        "_m",
        "pos",
        F.substring(F.md5(gram), 1, 8).alias("_h"),
    )
    win = Window.partitionBy("_id").orderBy("pos").rowsBetween(0, w - 1)
    return (
        hashed.withColumn("fp", F.min("_h").over(win))
        .filter(F.col("pos") <= F.greatest(F.col("_m") - (w - 1), F.lit(1)))
        .select(F.col("_id").alias(id_col), "fp")
        .distinct()
    )


def winnow_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_docs_per_fp: Optional[int] = 1000,
) -> DataFrame:
    """Near-dup candidate pairs by shared winnowing fingerprints: docs
    sharing ≥ ``min_shared`` selected hashes.  Because winnowing picks a
    fingerprint from every w-window, any shared passage of ≥ n+w-1 tokens
    is guaranteed to surface — unlike MinHash-LSH this catches contained
    plagiarism-style overlap, not just near-identical whole docs.

    Scale discipline mirrors ngram_jaccard_pairs: the fingerprint
    self-join is bounded by dropping hashes shared by more than
    ``max_docs_per_fp`` docs (boilerplate runs; a dropped hot hash can only
    lose candidates ALSO sharing rarer hashes — same rationale as the hot
    shingle cap), and only (id, fp) rows join — never text.
    Returns (id_a, id_b, n_shared).
    """
    fps = winnow_fingerprints(df, id_col, text_col, n, w).localCheckpoint(eager=False)
    if max_docs_per_fp:
        hot = (
            fps.groupBy("fp")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > max_docs_per_fp)
            .select("fp")
        )
        fps = fps.join(F.broadcast(hot), "fp", "left_anti")
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    test_id_col: str = "test_id",
    n: int = 3,
    w: int = 4,
    min_shared: int = 1,
) -> DataFrame:
    """Training-corpus decontamination against a held-out test/benchmark
    set: flag every TRAINING doc that (a) shares ≥ ``min_shared`` winnowing
    fingerprints with the test set's fingerprint union — the winnowing
    guarantee makes any shared passage of ≥ n+w-1 tokens surface, so a test
    question quoted INSIDE a long training doc is caught, not just
    whole-doc near-identity — or (b) normalizes to the exact text of some
    test doc (catches docs too short to fingerprint).  The standard
    train/test-overlap scrub for LLM corpora.

    Scale shape: test sets are small (10³–10⁵ benchmark docs) while the
    train corpus is the 100 TB side, so the test fingerprint set and the
    test exact-hash set BROADCAST; the scan costs one fingerprint pass over
    train plus map-side joins — the corpus is never shuffled on a text key.

    Returns (id, n_shared, exact∈{0,1}); a row per flagged training doc.
    """
    train_fps = winnow_fingerprints(train, id_col, text_col, n, w)
    test_fps = (
        winnow_fingerprints(test, test_id_col, text_col, n, w)
        .select("fp")
        .distinct()
    )
    # train_fps is distinct per (id, fp), so count(*) == distinct shared fps
    shared = (
        train_fps.join(F.broadcast(test_fps), "fp")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
    )
    tr_hash = train.select(
        F.col(id_col), F.md5(textfns.normalize(text_col)).alias("_fh")
    )
    te_hash = test.select(F.md5(textfns.normalize(text_col)).alias("_fh")).distinct()
    exact = (
        tr_hash.join(F.broadcast(te_hash), "_fh")
        .select(id_col)
        .distinct()
        .withColumn("_ex", F.lit(1))
    )
    return (
        shared.join(exact, id_col, "full_outer")
        .select(
            id_col,
            F.coalesce("n_shared", F.lit(0).cast("long")).alias("n_shared"),
            F.coalesce("_ex", F.lit(0)).alias("exact"),
        )
        .filter((F.col("n_shared") >= min_shared) | (F.col("exact") == 1))
    )


def strip_boilerplate_lines(
    df: DataFrame,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level boilerplate line removal (the RefinedWeb/CCNet-family
    line-wise dedup, Penedo 2023 §3.2): delete every line whose trimmed
    form occurs in >= ``min_df`` DISTINCT documents (nav bars, cookie
    banners, footers, share buttons), then re-assemble each document in
    original line order.  Complements C4 cleaning (within-page rules) with
    the cross-corpus rule no single page can decide locally.

    Output: ``(id, n_lines, n_removed, cleaned)`` — every input doc appears
    (fully-boilerplate docs come back with ``cleaned = ''``).

    Scale shape: lines explode once; the doc-frequency count runs on
    DISTINCT (fingerprint, id) so partial aggregation absorbs within-doc
    repeats map-side; the boilerplate set (lines with df >= min_df) has
    cardinality <= total_lines / min_df and BROADCASTS into a left-anti
    join, so the corpus is never shuffled on a text key; re-assembly is
    one groupBy on the dense doc id — no skew (each group = one doc's
    lines).  Whitespace-only lines share one fingerprint and are removed
    as boilerplate as soon as ``min_df`` docs contain any.
    """
    base = df.select(F.col(id_col), F.col(text_col))
    fps = base.select(
        id_col, F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line")
    ).select(id_col, "pos", "line", F.md5(F.trim("line")).alias("fp"))
    boiler = (
        fps.select(id_col, "fp")
        .distinct()
        .groupBy("fp")
        .agg(F.count("*").alias("df_docs"))
        .filter(F.col("df_docs") >= min_df)
        .select("fp")
    )
    kept = fps.join(F.broadcast(boiler), "fp", "left_anti")
    reasm = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("cleaned"),
        F.count("*").alias("n_kept"),
    )
    counts = base.select(
        id_col, F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines")
    )
    return counts.join(reasm, id_col, "left").select(
        id_col,
        "n_lines",
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0).cast("long"))).alias(
            "n_removed"
        ),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
    )


def dedup_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style corpus-level line deduplication (Wenzek 2020 §3.1):
    every distinct trimmed line keeps only its FIRST occurrence corpus-wide
    — the occurrence with the minimal ``(id, pos)`` — and every other copy
    is deleted; documents re-assemble in original line order.  Complements
    ``strip_boilerplate_lines``, which deletes frequent lines EVERYWHERE
    including the first copy: boilerplate removal is a frequency rule,
    line dedup is an ownership rule — together they are the CCNet/
    RefinedWeb line-wise pipeline.  Whitespace-only lines are kept
    verbatim everywhere (they are document STRUCTURE, not content — a
    global first-occurrence rule would collapse every blank separator in
    the corpus onto one document).

    Output: ``(id, n_lines, n_removed, cleaned)`` — every input doc
    appears; a doc whose every content line is owned elsewhere comes back
    with only its blank lines (or ``''``).

    Scale shape: lines explode once; the winner per distinct fingerprint
    is ``min(struct(id, pos))`` — algebraic, so partial aggregation
    absorbs hot lines map-side and the winner set is ONE row per distinct
    line.  Survivorship is an equi-join of content lines against winners
    on the md5 fingerprint: a uniform hash key, and when one pathological
    line concentrates millions of occurrence rows under a single fp the
    winner side is still one row, so AQE's skew-join split handles the
    reducer fan-out with free replication.  Re-assembly is one groupBy on
    the doc id — each group is exactly one document's lines."""
    base = df.select(F.col(id_col), F.col(text_col))
    lines = base.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    blank = F.trim("line") == ""
    content = lines.filter(~blank).withColumn("fp", F.md5(F.trim("line")))
    winners = content.groupBy("fp").agg(
        F.min(F.struct(id_col, "pos")).alias("_w")
    )
    kept_content = (
        content.join(winners, "fp")
        .filter(
            (F.col(id_col) == F.col(f"_w.{id_col}"))
            & (F.col("pos") == F.col("_w.pos"))
        )
        .select(id_col, "pos", "line")
    )
    kept = kept_content.unionByName(lines.filter(blank))
    reasm = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("cleaned"),
        F.count("*").alias("n_kept"),
    )
    counts = base.select(
        id_col,
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
    )
    return counts.join(reasm, id_col, "left").select(
        id_col,
        "n_lines",
        (F.col("n_lines") - F.coalesce("n_kept", F.lit(0).cast("long"))).alias(
            "n_removed"
        ),
        F.coalesce("cleaned", F.lit("")).alias("cleaned"),
    )


def exact_substr_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    portable: bool = True,
) -> DataFrame:
    """ExactSubstr duplicate-span detection (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" §4.1) at
    whitespace-token granularity: every token run of ≥ ``min_len`` tokens
    that occurs MORE THAN ONCE corpus-wide (across docs or repeated within
    one doc) is a duplicate; the occurrence with the minimal ``(id, pos)``
    is the OWNER and is kept, every other occurrence is a removable span.
    The paper builds a suffix array; the identical token-level semantics
    fall out of L-gram ownership — a shared run of T ≥ L tokens yields
    exactly T−L+1 duplicated L-grams whose merged cover IS the run, so the
    reported spans equal the suffix-array answer for runs ≥ L.

    Output: one row per input doc — ``(id, n_tokens, n_dup_tokens,
    n_spans, dup_ratio)`` where ``n_dup_tokens`` counts tokens inside
    non-owner duplicated runs, ``n_spans`` the maximal merged runs, and
    ``dup_ratio`` is the single exact IEEE division dup/total (0.0 for
    empty docs).  All other columns are exact integers.

    Scale shape: grams are fingerprinted MAP-SIDE inside the explode
    projection (md5 of the joined slice), so the shuffle carries only
    ``(fp, id, pos)`` — never gram text (L× the corpus bytes).  Ownership
    is ``min(struct(id, pos))`` + ``count`` per fp — algebraic, partial
    aggregation absorbs hot grams map-side and the duplicated-fp table has
    ONE row per distinct gram, so the occurrence⋈winner equi-join is
    linear in occurrences (AQE skew-split handles a pathological gram;
    the one-row build side replicates free).  Span merge is the classic
    gaps-and-islands: one window per doc ordered by pos — one exchange on
    the doc id.  Map-side cost is O(L·tokens) chars to build each gram
    slice; at the paper's L=50 that is the dominant CPU term and is
    embarrassingly parallel.

    ``portable=True`` fingerprints with md5 of the joined gram (32-char
    hex, byte-identical in DuckDB — the oracle mode); ``portable=False``
    swaps in native ``xxhash64`` of the same joined gram — an 8-byte long
    shuffle key instead of a 32-byte string, measured 1.25× end-to-end at
    1M docs; output is row-identical to the portable mode (fingerprints
    are only compared for equality; collisions: 64-bit birthday, ~1e-5 at
    10⁹ grams).  Feeding the L token columns straight into the multi-arg
    ``xxhash64`` (skipping the concat) measured SLOWER (98s vs 57s) — L
    chained per-column hash calls inside the lambda cost more than one
    concat + one hash."""
    L = int(min_len)
    if L < 2:
        raise ValueError("min_len must be >= 2")
    toks = df.select(
        F.col(id_col).alias("_id"),
        textfns.tokens(textfns.normalize(text_col)).alias("_toks"),
    )
    tk = F.col("_toks")
    # fp per start position, hashed inside the lambda (no gram strings
    # survive the projection)
    fp_of = F.md5 if portable else F.xxhash64
    fps = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(tk) - L, F.lit(-1))),
        lambda i: fp_of(
            F.concat_ws(
                " ",
                *[F.element_at(tk, (i + j + 1).cast("int")) for j in range(L)],
            )
        ),
    )
    occ = toks.select(
        "_id", F.posexplode(F.when(F.size(tk) >= L, fps)).alias("pos", "fp")
    ).localCheckpoint(eager=False)  # occ feeds both the agg and the join
    dup = occ.groupBy("fp").agg(
        F.count("*").alias("_c"), F.min(F.struct("_id", "pos")).alias("_w")
    ).filter(F.col("_c") >= 2)
    nonowner = (
        occ.join(dup, "fp")
        .filter(
            ~(
                (F.col("_id") == F.col("_w._id"))
                & (F.col("pos") == F.col("_w.pos"))
            )
        )
        .select("_id", "pos")
    )
    w = Window.partitionBy("_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + L).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = nonowner.withColumn(
        "_new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    ).withColumn(
        "_isl", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = islands.groupBy("_id", "_isl").agg(
        F.min("pos").alias("_s"), F.max(F.col("pos") + L).alias("_e")
    )
    per_doc = spans.groupBy("_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("_e") - F.col("_s")).alias("n_dup_tokens"),
    )
    base = df.select(
        F.col(id_col),
        textfns.token_count(textfns.normalize(text_col))
        .cast("long")
        .alias("n_tokens"),
    )
    joined = base.join(
        per_doc.withColumnRenamed("_id", id_col), id_col, "left"
    )
    nd = F.coalesce("n_dup_tokens", F.lit(0).cast("long"))
    return joined.select(
        id_col,
        "n_tokens",
        nd.alias("n_dup_tokens"),
        F.coalesce("n_spans", F.lit(0).cast("long")).alias("n_spans"),
        F.when(
            F.col("n_tokens") > 0,
            nd.cast("double") / F.col("n_tokens").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_ratio"),
    )


def _bloom_positions(key: Column, m: int, k: int) -> Column:
    """Array of the k Bloom bit positions of ``key``: position_i =
    int(md5(key || '#b' || i)[:8], 16) % m — k independent md5 draws, all
    native (md5/conv/pmod, whole-stage codegen) and exactly mirrorable in
    SQL (hex nibbles -> integer is engine-independent)."""
    return F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat(key, F.lit(f"#b{i}"))), 1, 8),
                    16,
                    10,
                ).cast("long"),
                F.lit(int(m)),
            )
            for i in range(k)
        ]
    )


def bloom_bits(
    history: DataFrame,
    key_col: str = "fp",
    m: int = 1 << 21,
    k: int = 4,
) -> DataFrame:
    """Build the PERSISTABLE Bloom summary of a history corpus: (word_idx,
    bits) rows packing the m-bit filter into 64-bit words — ``m/64`` rows
    regardless of history size.  This is the artifact an incremental dedup
    pipeline stores between batches: history text is scanned ONCE, reduced
    map-side (distinct positions partial-aggregate before the shuffle), and
    never touched again by later batches.

    Scale shape: the only exchange is a groupBy on word_idx over <= m
    distinct positions (not corpus rows); at 10^11 history docs pick
    m ~ 10 bits/doc — the packed table is m/8 bytes (2^33 bits = 128 MB),
    still a broadcastable summary, vs re-shuffling the history corpus every
    batch.  No per-row Python anywhere.
    """
    pos = history.select(
        F.explode(_bloom_positions(F.col(key_col), m, k)).alias("pos")
    ).distinct()
    return (
        pos.select(
            F.shiftright("pos", 6).alias("word_idx"),
            F.col("pos").bitwiseAND(F.lit(63)).alias("_bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or(F.expr("shiftleft(1L, CAST(_bit AS INT))")).alias("bits"))
    )


def bloom_probe(
    new: DataFrame,
    bits: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "fp",
    m: int = 1 << 21,
    k: int = 4,
) -> DataFrame:
    """Probe each new row's k positions against a packed Bloom summary:
    adds ``bloom_hit`` (true iff ALL k bits are set — no false negatives,
    false positives at the classic (1-e^{-kn/m})^k rate).  The probe is a
    BROADCAST join of the k exploded positions against the m/64-word bits
    table + ONE groupBy on the new-batch id (``new``'s other columns ride
    the same exchange via first() — probe a slim (id, key) projection and
    re-attach wide columns afterwards); the history corpus is not involved
    at all, and no join-back on the batch is needed."""
    carry = [c for c in new.columns if c != id_col]
    probes = new.select(
        id_col,
        *carry,
        F.posexplode(_bloom_positions(F.col(key_col), m, k)).alias("_i", "pos"),
    ).select(
        id_col,
        *carry,
        F.shiftright("pos", 6).alias("word_idx"),
        F.col("pos").bitwiseAND(F.lit(63)).alias("_bit"),
    )
    hit = probes.join(F.broadcast(bits), "word_idx", "left").select(
        id_col,
        *carry,
        (
            F.coalesce("bits", F.lit(0).cast("long")).bitwiseAND(
                F.expr("shiftleft(1L, CAST(_bit AS INT))")
            )
            != 0
        ).alias("_hit"),
    )
    return hit.groupBy(id_col).agg(
        *[F.first(c).alias(c) for c in carry],
        F.bool_and("_hit").alias("bloom_hit"),
    )


def bloom_incremental_dedup(
    new: DataFrame,
    history: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m: int = 1 << 21,
    k: int = 4,
) -> DataFrame:
    """Incremental exact dedup of a NEW batch against a HISTORY corpus via
    a Bloom prefilter + exact verification — the standard shape for
    continuously-ingested training data, where re-joining every batch
    against the full history is the scale killer.

    Three stages, none of which shuffles a corpus on a text key:
    1. ``bloom_bits(history)`` — one scan of history (or a PERSISTED summary
       reused across batches; see annstore for the lineage pattern).
    2. ``bloom_probe`` — new batch vs the broadcast m/64-word summary; only
       ``bloom_hit`` rows survive as candidates (true dups + the documented
       false-positive tail).
    3. Exact verify: the candidate fingerprints BROADCAST into one scan of
       history (history is filtered, never shuffled), and a final broadcast
       semi-join marks ``is_dup``.  Bloom has no false negatives, so
       non-candidates are exactly-not-dups: ``is_dup -> bloom_hit`` holds
       row-for-row.

    Output: one row per new-batch doc — (id, fp, bloom_hit, is_dup).
    """
    from . import text as textfns

    newfp = new.select(
        F.col(id_col), textfns.fingerprint(text_col).alias("fp")
    )
    histfp = history.select(textfns.fingerprint(text_col).alias("fp"))
    bits = bloom_bits(histfp, "fp", m, k)
    # probed feeds BOTH the candidate extraction and the final output —
    # materialize once (narrow: id, fp, bloom_hit) so the probe pipeline
    # and the bits broadcast don't execute twice (CLAUDE.md single-
    # materialization discipline, the minhash_lsh_pairs shape)
    probed = bloom_probe(newfp, bits, id_col, "fp", m, k).localCheckpoint(
        eager=False
    )
    cand = probed.filter("bloom_hit").select("fp").distinct()
    matched = (
        histfp.join(F.broadcast(cand), "fp").select("fp").distinct()
        .withColumn("_m", F.lit(True))
    )
    return (
        probed.join(F.broadcast(matched), "fp", "left")
        .select(
            id_col,
            "fp",
            "bloom_hit",
            F.coalesce("_m", F.lit(False)).alias("is_dup"),
        )
    )
