"""Deduplication operators (SURVEY.md §2.11; BASELINE.json north
star): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design notes:
- Exact dedup is a hash-aggregate on the dedup key — one shuffle,
  map-side partial. Hashing the full text into a 64-bit key first
  (``xxhash64``) keeps the shuffle narrow at 100 TB; collisions are
  2^-64-rare and only merge docs, so for exactness we group on the
  (hash, text) pair — the shuffle still sorts/partitions by hash.
- Jaccard pair-join uses an inverted index (shingle → doc), so cost
  scales with shared-shingle pairs, not |docs|². Hot "stop
  shingles" are the skew risk: ``max_df`` drops shingles appearing
  in more than a fraction of docs (standard trick; biases Jaccard
  slightly, so the oracle-checked query leaves it off).
- MinHash+LSH: per-doc signatures via p independent hash perms
  (xxhash64 seeded by perm index — deterministic), banded into
  b bands of r rows; docs sharing any band bucket are candidates;
  candidates are verified with EXACT Jaccard so false positives
  vanish and the output equals exact-threshold pairs up to LSH
  recall (1-(1-t^r)^b; with p=64, r=2, b=32 at t=0.5 that is
  1-1e-4 — effectively exact, while the pair-join only touches
  band-bucket collisions instead of every shared-shingle pair).
- SimHash: 64-bit signature by per-bit weighted votes of token
  hashes — computed entirely with JVM expressions (explode +
  bit-shift aggregates), no Python. Near-dup = Hamming ≤ d via
  chunk blocking (pigeonhole: d<chunks ⇒ some chunk equal).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from top_produce_etl_spark.operators._cache import persist_tracked


def _drop_stop_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Remove "stop shingles" occurring in more than ``max_df`` docs.

    Broadcast direction matters at scale: the STOP list (df >
    max_df) is tiny — a handful of boilerplate shingles — while the
    keep list is nearly the whole distinct-shingle vocabulary
    (billions of rows at 100 TB). So we broadcast the stop list and
    anti-join, never the keep list. (Round-1 verdict fix.)"""
    stop = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("shingle")
    )
    return sh.join(F.broadcast(stop), "shingle", "left_anti")


def exact_dedup(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Representative-selection exact dedup: keep min(id) per text,
    report the duplicate count. Output: id_col, text_col, n_dups."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_dups")
    ).select(id_col, text_col, "n_dups")


def normalize_for_dedup(text: Column) -> Column:
    """CCNet-style dedup-key normalization (Wenzek et al. 2020 §4.1:
    lowercase, drop digits and punctuation, squash whitespace before
    hashing paragraphs): exact dedup over the RAW string misses
    re-encodes that differ only in case, numbers ("updated 2023" vs
    "updated 2024"), punctuation style, or spacing — the largest
    duplicate classes in real web corpora after literal copies.

    Pure column expressions (two RE2-safe regexp passes + trim), so
    the key computes at scan speed and the DuckDB twin
    (:func:`normalize_for_dedup_sql`) is character-identical. ASCII
    classes only — engines disagree on Unicode case folding, and the
    cross-engine contract outranks locale coverage here (a production
    deployment would swap in ICU folding on the Spark side only)."""
    out = F.lower(text)
    out = F.regexp_replace(out, "[0-9]+|[^a-z ]+", " ")
    out = F.regexp_replace(out, " +", " ")
    return F.trim(out)


def normalize_for_dedup_sql(text_sql: str) -> str:
    """DuckDB twin of :func:`normalize_for_dedup`."""
    return (
        f"trim(regexp_replace(regexp_replace(lower({text_sql}), "
        f"'[0-9]+|[^a-z ]+', ' ', 'g'), ' +', ' ', 'g'))"
    )


def normalized_exact_dedup(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Exact dedup on the NORMALIZED key: one hash-agg on the derived
    key (same shuffle as exact_dedup — the normalization is free at
    scan time). Keeps min(id) per class and reports both the class
    size and how many DISTINCT raw strings it collapsed (n_variants
    > 1 rows are exactly the duplicates raw exact dedup misses).
    Output: id_col, norm_key, n_dups, n_variants."""
    key = normalize_for_dedup(F.col(text_col))
    return (
        df.select(F.col(id_col), F.col(text_col), key.alias("norm_key"))
        .groupBy("norm_key")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_dups"),
            F.countDistinct(text_col).alias("n_variants"),
        )
        .select(id_col, "norm_key", "n_dups", "n_variants")
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """Per-doc shingle SET as one narrow row: (id, sset
    array<string>). ``array_distinct`` deduplicates within the row,
    so this is a pure map — ZERO shuffles — unlike the classic
    explode+distinct inverted-index build, which shuffles the whole
    exploded corpus. Docs shorter than k words drop out (empty set:
    Jaccard undefined/0 against everything).

    Tokenization is STAGED into its own projection so the shingle
    lambda reads a materialized array attribute — inlining the split
    into the per-position lambda re-tokenizes per shingle, O(n²)
    per doc (functions.text.shingles_of note; measured 2.8× here)."""
    from top_produce_etl_spark.functions.text import shingles_of, tokens

    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    return toked.select(
        F.col(id_col),
        F.array_distinct(shingles_of(F.col("__toks"), k)).alias("sset"),
    ).filter(F.size("sset") > 0)


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, k: int, max_df: int | None = None
) -> DataFrame:
    """Distinct (id, shingle) inverted index, derived from
    :func:`shingle_sets` (explode of per-row sets — narrow, no
    distinct shuffle needed). ``max_df`` drops shingles occurring in
    more than that many docs (stop-shingle skew guard)."""
    sh = shingle_sets(df, id_col, text_col, k).select(
        F.col(id_col), F.explode("sset").alias("shingle")
    )
    if max_df is not None:
        sh = _drop_stop_shingles(sh, max_df)
    return sh


def _pair_overlaps(
    df: DataFrame, id_col: str, text_col: str, k: int, max_df: int | None
) -> DataFrame:
    """(a_id, b_id, common, na, nb) for every doc pair a<b sharing a
    k-word shingle: the common-shingle count and both set sizes — the
    core :func:`jaccard_pairs` and :func:`containment_pairs` score.
    The exploded shingle table is persisted (it feeds sizes and both
    self-join sides) before ``max_df`` drops stop shingles."""
    sh = persist_tracked(
        shingle_sets(df, id_col, text_col, k).select(
            F.col(id_col), F.explode("sset").alias("shingle")
        )
    )
    if max_df is not None:
        sh = _drop_stop_shingles(sh, max_df)
    # sizes over SURVIVING shingles (consistent under max_df); the
    # groupBy ships ≤ |docs|·partitions partially-combined rows.
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))

    a = sh.select(F.col(id_col).alias("a_id"), "shingle")
    b = sh.select(F.col(id_col).alias("b_id"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col(id_col).alias("a_id"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("b_id"), F.col("n").alias("nb"))
    return common.join(na, "a_id").join(nb, "b_id")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: all doc pairs (a<b)
    with ``|A∩B| / |A∪B| >= threshold`` over k-word shingle sets.
    Output: a_id, b_id, jaccard.

    Plan shape: the exploded shingle table is built by a narrow map
    (per-row ``array_distinct`` — no inverted-index distinct shuffle)
    and persisted MEMORY_AND_DISK, because it feeds three consumers
    (sizes, both self-join sides). Measured at sf0.1: persist 2.4 s
    vs re-computing the split+array_distinct per consumer 7.8 s vs
    materializing via ``repartition("shingle")`` 6.0 s — the
    repartition variant concentrates each hot shingle into one task
    and, being a reused exchange, AQE cannot split those skewed
    partitions for the self-join. With persist the join input stays
    round-robin-partitioned, so the shuffle spreads hot shingles'
    rows and AQE skew-join handling stays available."""
    return (
        _pair_overlaps(df, id_col, text_col, k, max_df)
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: tuple[int, int] = (1, 2),
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (the
    AllPairs/PPJoin family — Bayardo et al. 2007, Xiao et al. 2008):
    the third dedup-join strategy beside the inverted-index full join
    (:func:`jaccard_pairs`) and approximate MinHash+LSH. Lossless by
    the prefix-filtering principle: order every doc's shingles by a
    GLOBAL rarity order (document frequency asc, shingle asc); for
    J(x,y) ≥ t the overlap is ≥ ⌈t·|x|⌉ on both sides, so the first
    ``|x| − ⌈t·|x|⌉ + 1`` shingles of x and of y must intersect —
    docs only meet in the join if they share a RARE shingle, instead
    of any shingle.

    Scale shape vs jaccard_pairs: the candidate join runs on the
    prefix relation (≈(1−t) of the shingle rows) and collision cost
    concentrates on LOW-df shingles by construction — the hot
    boilerplate shingles that dominate the full self-join's skew sit
    at the END of the rarity order and never enter a prefix.
    Verification is per-candidate ``array_intersect`` on the per-doc
    shingle sets (id-keyed equi-joins, map-side set math) — no second
    corpus-wide shuffle.

    ``threshold`` is RATIONAL (num, den): the prefix length and the
    acceptance test are integer arithmetic (cross-multiplied), so no
    float boundary can silently drop a qualifying pair. Output:
    (a_id, b_id, jaccard) — identical contract to jaccard_pairs, and
    verified against the same exact oracle.

    Small-scale honesty: at the 5k-doc bench fixture this reads
    SLOWER than the full join (4.4 vs 3.2 s isolated) — the df-rank
    window and candidate distinct are fixed extra stages that only
    pay off when hot-shingle collision pairs dominate the full
    self-join, i.e. at web-corpus scale with real boilerplate (the
    skew-immunity test plants exactly that shape)."""
    from pyspark.sql import Window

    num, den = threshold
    if not (0 < num <= den):
        raise ValueError(f"threshold {num}/{den} outside (0, 1]")
    ssets = persist_tracked(shingle_sets(df, id_col, text_col, k))
    sh = ssets.select(F.col(id_col), F.explode("sset").alias("shingle"))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy(id_col).orderBy("__df", "shingle")
    ranked = sh.join(dfreq, "shingle").withColumn(
        "__rn", F.row_number().over(w)
    )
    sizes = ssets.select(
        F.col(id_col), F.size("sset").alias("__n")
    )
    # integer ceil(num*n/den) = (num*n + den - 1) div den
    prefix_len = (
        F.col("__n")
        - F.expr(f"(({num}L * __n + {den} - 1) div {den})")
        + F.lit(1)
    )
    prefix = (
        ranked.join(sizes, id_col)
        .filter(F.col("__rn") <= prefix_len)
        .select(F.col(id_col), "shingle")
    )
    cand = (
        prefix.alias("pa")
        .join(prefix.alias("pb"), "shingle")
        .select(
            F.col(f"pa.{id_col}").alias("a_id"),
            F.col(f"pb.{id_col}").alias("b_id"),
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .distinct()
    )
    sa = ssets.select(
        F.col(id_col).alias("a_id"), F.col("sset").alias("__sa")
    )
    sb = ssets.select(
        F.col(id_col).alias("b_id"), F.col("sset").alias("__sb")
    )
    scored = (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn(
            "common", F.size(F.array_intersect("__sa", "__sb"))
        )
        .withColumn("na", F.size("__sa"))
        .withColumn("nb", F.size("__sb"))
        # cross-multiplied integer acceptance: den·c ≥ num·(na+nb−c)
        .filter(
            F.col("common") * den
            >= (F.col("na") + F.col("nb") - F.col("common")) * num
        )
    )
    return scored.select(
        "a_id",
        "b_id",
        (
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast(
                "double"
            )
        ).alias("jaccard"),
    )


def minhash_signature_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    num_perm: int = 64,
) -> DataFrame:
    """The maintainable MinHash signature table: (id, h0..h{p-1},
    sset). ONE fused aggregate computes both the p min-hashes and
    the exact-verification shingle set (measured 1.1 s vs 1.5 s at
    sf0.1 for separate aggregates) — the corpus is shingled and
    shuffled exactly once, and what persists is the |docs|-row
    signature table, not the |shingles|-row exploded table.
    Explode + one hash-aggregate with p ``min`` expressions stays in
    whole-stage codegen (measured ~20× faster at sf0.1 than a nested
    ``transform``/``array_min`` variant, which drops to interpreted
    per-element eval).

    This is the unit of INCREMENTAL dedup at 100 TB: write it once
    per corpus, append one batch's worth per ingest, and
    :func:`incremental_neardup` joins new batches against it without
    ever re-shingling the historical corpus."""
    sh = shingle_sets(df, id_col, text_col, k).select(
        F.col(id_col), F.explode("sset").alias("shingle")
    )
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
        for i in range(num_perm)
    ]
    return sh.groupBy(id_col).agg(
        *mins, F.collect_set("shingle").alias("sset")
    )


def band_buckets(
    sig: DataFrame, id_col: str, num_perm: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket) long form from a signature table — the
    LSH join key relation (equi-join on (band, bucket))."""
    n_bands = num_perm // rows_per_band
    band_cols = [
        F.xxhash64(
            *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        ).alias(f"b{b}")
        for b in range(n_bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    return banded.select(
        F.col(id_col),
        F.posexplode(F.array(*[F.col(f"b{b}") for b in range(n_bands)])).alias(
            "band", "bucket"
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.5,
    num_perm: int = 64,
    rows_per_band: int = 2,
) -> DataFrame:
    """MinHash+LSH near-dup join, exact-verified.

    Pipeline: shingle → signatures → band buckets → candidate pairs
    (band-bucket collisions) → EXACT Jaccard verification via
    array_intersect on collected shingle sets. Output schema matches
    :func:`jaccard_pairs` (a_id, b_id, jaccard); equality holds up
    to LSH recall (see module docstring).
    """
    sig = persist_tracked(
        minhash_signature_index(df, id_col, text_col, k, num_perm)
    )
    buckets = band_buckets(sig, id_col, num_perm, rows_per_band)
    left = buckets.select(F.col(id_col).alias("a_id"), "band", "bucket")
    right = buckets.select(F.col(id_col).alias("b_id"), "band", "bucket")
    candidates = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )

    # Exact verification: attach each side's shingle set, intersect —
    # read straight off the persisted fused signature table.
    sets = sig.select(F.col(id_col), "sset")
    verified = (
        candidates.join(
            sets.select(F.col(id_col).alias("a_id"), F.col("sset").alias("sa")), "a_id"
        )
        .join(
            sets.select(F.col(id_col).alias("b_id"), F.col("sset").alias("sb")), "b_id"
        )
        .withColumn("common", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.size("sa") + F.size("sb") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )
    return verified


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_col: Column | None = None,
    n_bits: int = 64,
) -> DataFrame:
    """SimHash per doc, entirely in JVM expressions.

    token → token hash → per-bit vote weighted by term frequency →
    signature bit i = 1 iff vote_i > 0. Output: id_col, simhash
    (bigint, bits packed little-endian).

    ``hash_col`` defaults to ``xxhash64(tok)`` (the fast JVM
    intrinsic — the 100 TB path). Pass a portable hash column
    (functions.portable_hash) + matching ``n_bits`` when the
    signature must be reproducible by a SQL oracle.

    Shuffle shape: ONE shuffle, and a narrow one. Each token
    OCCURRENCE votes ±1 directly — summing ±1 per occurrence equals
    summing ±count per distinct token, so the classic tf
    pre-aggregate (a full-width (id, token) shuffle of the exploded
    corpus) is pure overhead. The single groupBy(id) partially
    aggregates map-side — exploded tokens of a doc are co-located —
    so only |docs|·n_bits vote partials ship.
    """
    occ = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("th", hash_col if hash_col is not None else F.xxhash64("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("th"), i).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
        ).alias(f"v{i}")
        for i in range(n_bits)
    ]
    voted = occ.groupBy(id_col).agg(*votes)
    sig = reduce(
        lambda acc, i: acc
        + F.when(F.col(f"v{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long")),
        range(min(n_bits, 63)),  # bit 63 excluded: keep the packed long non-negative
        F.lit(0).cast("long"),
    )
    return voted.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    n_chunks: int = 8,
    hash_col: Column | None = None,
    n_bits: int = 64,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ max_hamming.

    Blocking by pigeonhole: split the ``n_bits``-bit signature into
    ``n_chunks`` chunks; distance ≤ d < n_chunks ⇒ at least one
    chunk is identical, so candidates = pairs sharing (chunk_idx,
    chunk_value); verified with exact popcount of XOR.
    """
    assert max_hamming < n_chunks, "pigeonhole requires d < chunks"
    assert n_bits % n_chunks == 0, "chunks must tile the signature"
    # Persist the |docs|-row signature table: both self-join sides
    # read it, and without the persist the whole signature pipeline
    # (explode + tf groupBy + hash + n_bits-vote aggregate) executes
    # once PER SIDE — alias-renamed subplans don't hit Spark's
    # ReusedExchange. Measured at sf0.1: 3.1s → 1.2s warm. Same
    # |docs|-row persist shape minhash_lsh_pairs already uses.
    sig = persist_tracked(
        simhash_signatures(df, id_col, text_col, hash_col, n_bits)
    )
    width = n_bits // n_chunks
    chunks = [
        F.shiftright(F.col("simhash"), i * width)
        .bitwiseAND(F.lit((1 << width) - 1))
        .alias(f"c{i}")
        for i in range(n_chunks)
    ]
    long_form = sig.select(F.col(id_col), F.col("simhash"), *chunks).select(
        F.col(id_col),
        "simhash",
        F.posexplode(F.array(*[F.col(f"c{i}") for i in range(n_chunks)])).alias(
            "chunk", "cval"
        ),
    )
    a = long_form.select(
        F.col(id_col).alias("a_id"), F.col("simhash").alias("sa"), "chunk", "cval"
    )
    b = long_form.select(
        F.col(id_col).alias("b_id"), F.col("simhash").alias("sb"), "chunk", "cval"
    )
    return (
        a.join(b, ["chunk", "cval"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "sa", "sb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iters: int = 20,
    path_halving: bool = True,
) -> DataFrame:
    """Connected components over a near-duplicate pair list —
    the transitive-closure step that turns pairwise matches into
    dedup groups (keep ``rep_id``, drop the rest). Output:
    (id, rep_id) for every node appearing in a pair, where rep_id =
    min id in the node's component.

    Algorithm: iterative min-label propagation. Every node starts
    labeled with its own id; each round, a node's label becomes the
    min of its own and its neighbors' labels. Plain propagation
    converges in O(component diameter) rounds — near-dup graphs are
    dense cliques-of-cliques, so diameter is small (2-4 typical).
    With ``path_halving`` (default) each round ALSO replaces every
    label by its label's label (one |V|-row self-join — labels are
    node ids, so every label resolves): min information then travels
    ~2^r hops after r rounds, and convergence drops to
    O(log diameter) — a 10 000-link chain finishes in ~15 rounds
    instead of 10 000. That removes the pathological case where
    exhaustion forces the error below.

    Scale design: each round is one shuffle-join (edges ⨝ labels on
    the destination) plus one min-aggregate — both partition by node
    id, so AQE reuses the layout. Labels are materialized per round
    via ``localCheckpoint`` to truncate lineage (without it the plan
    doubles each round and re-executes the whole history).
    Convergence is detected by the label-sum invariant: labels only
    ever decrease, so an unchanged sum means a fixpoint — one cheap
    scalar aggregate instead of a change-counting join.
    """
    # Materialize the edge list ONCE — it joins against labels every
    # round, and without this the upstream pair pipeline (e.g. the
    # full Jaccard join) re-executes per iteration (measured 12.2 s
    # → 4.5 s at sf0.1 for jaccard-pairs input).
    edges = (
        pairs.select(F.col(a_col).alias("s"), F.col(b_col).alias("t"))
        .union(pairs.select(F.col(b_col).alias("s"), F.col(a_col).alias("t")))
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    converged = False
    for _ in range(max_iters):
        nbr_min = (
            edges.join(labels, edges.t == labels.id)
            .groupBy("s")
            .agg(F.min("label").alias("nbr_min"))
        )
        labels = labels.join(nbr_min, labels.id == nbr_min.s, "left").select(
            F.col("id"),
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
            ).alias("label"),
        )
        if path_halving:
            # label ← label(label): pointer jump. Labels only ever
            # shrink (parent.label ≤ parent.id = child.label), so the
            # monotone-sum convergence test still applies; at the
            # fixpoint both the propagation and the jump are no-ops.
            parent = labels.select(
                F.col("id").alias("p_id"), F.col("label").alias("p_label")
            )
            labels = labels.join(
                parent, labels.label == parent.p_id, "left"
            ).select(
                F.col("id"),
                F.coalesce(F.col("p_label"), F.col("label")).alias("label"),
            )
        labels = labels.localCheckpoint()
        new_sum = labels.agg(F.sum("label")).collect()[0][0]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # Exiting by exhaustion means some component with diameter >
        # max_iters still carries SPLIT labels — silently returning
        # them would corrupt dedup groups downstream (round-1 advice).
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "label-propagation rounds — a component's diameter exceeds "
            "max_iters. Raise max_iters (rounds scale with graph "
            "diameter; near-dup graphs are usually diameter 2-4)."
        )
    return labels.select(F.col("id"), F.col("label").alias("rep_id"))


def incremental_neardup(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.5,
    num_perm: int = 64,
    rows_per_band: int = 2,
) -> DataFrame:
    """Ingest-gate near-dup check: which NEW documents near-duplicate
    the EXISTING corpus, using the corpus's maintained signature
    ``index`` (:func:`minhash_signature_index` — same k/num_perm
    required) instead of re-shingling the corpus.

    The 100 TB incremental contract: per-batch cost = shingling the
    BATCH + an equi-join of the batch's band buckets against the
    index's band buckets + exact verification of collisions. The
    historical corpus contributes only its (|docs| × p)-wide
    signature table — never its text.

    Output: (new_id, dup_of, jaccard) for exact-verified pairs at or
    above ``threshold``. New-vs-new duplicates are NOT reported here
    (run :func:`minhash_lsh_pairs` on the batch for that); after the
    gate, append the batch's signatures to the index.
    """
    missing = [
        c for c in [f"h{i}" for i in range(num_perm)] + ["sset", id_col]
        if c not in index.columns
    ]
    if missing:
        raise ValueError(
            f"index lacks column(s) {missing[:3]}… — it must come from "
            f"minhash_signature_index with num_perm={num_perm} and the "
            "same id column (mismatched k/num_perm silently zeroes recall)"
        )
    new_sig = persist_tracked(
        minhash_signature_index(new_docs, id_col, text_col, k, num_perm)
    )
    new_buckets = band_buckets(new_sig, id_col, num_perm, rows_per_band)
    idx_buckets = band_buckets(index, id_col, num_perm, rows_per_band)
    candidates = (
        new_buckets.select(F.col(id_col).alias("new_id"), "band", "bucket")
        .join(
            idx_buckets.select(F.col(id_col).alias("dup_of"), "band", "bucket"),
            ["band", "bucket"],
        )
        .select("new_id", "dup_of")
        .distinct()
    )
    verified = (
        candidates.join(
            new_sig.select(F.col(id_col).alias("new_id"), F.col("sset").alias("sa")),
            "new_id",
        )
        .join(
            index.select(F.col(id_col).alias("dup_of"), F.col("sset").alias("sb")),
            "dup_of",
        )
        .withColumn("common", F.size(F.array_intersect("sa", "sb")))
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.size("sa") + F.size("sb") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "dup_of", "jaccard")
    )
    return verified


def survivors_by(
    docs: DataFrame,
    components: DataFrame,
    id_col: str,
    prefer_col: str | None = None,
    prefer_desc: bool = True,
) -> DataFrame:
    """Survivor SELECTION POLICY over dedup components: keep one
    document per near-dup group — by default the min-id
    representative (the :func:`connected_components` label), or,
    with ``prefer_col``, the group's best row by that metric
    (``prefer_desc=True`` keeps the max — e.g. longest / highest
    quality — ties broken by min id for determinism). Returns the
    kept rows of ``docs`` with their original columns.

    Why policy matters: min-id keeps an ARBITRARY member; a curation
    pipeline usually wants the longest or highest-quality copy of
    each duplicated document. The component structure is identical
    either way — only the per-group argmax changes.

    Plan shape: the |members|-row component relation (small — only
    docs that appear in a pair) joins the corpus to fetch the metric,
    one per-group window picks the winner, and the loser set
    anti-joins the corpus (broadcast by the planner while it fits its
    threshold — grows with the duplicate count, not the corpus).
    """
    members = components.select(
        F.col("id").alias(id_col), F.col("rep_id")
    )
    if prefer_col is None:
        losers = members.filter(F.col(id_col) != F.col("rep_id")).select(
            id_col
        )
    else:
        metric = F.col(prefer_col)
        order = [
            metric.desc() if prefer_desc else metric.asc(),
            F.col(id_col).asc(),
        ]
        from pyspark.sql import Window

        w = Window.partitionBy("rep_id").orderBy(*order)
        losers = (
            members.join(
                docs.select(F.col(id_col), F.col(prefer_col)), id_col
            )
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
            .select(id_col)
        )
    return docs.join(losers, id_col, "left_anti")


def duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated SPANS at k-token granularity — the
    exact-substring dedup used by Dolma / RefinedWeb-class pipelines,
    where boilerplate paragraphs repeat across otherwise-distinct
    pages that no DOCUMENT-level near-dup (MinHash/SimHash) will ever
    pair. A k-token shingle is "duplicated" when it occurs in at
    least ``min_docs`` DISTINCT documents; per document, overlapping
    or adjacent duplicated shingle windows are merged into maximal
    spans (gap-islands over token positions).

    Output: ``id_col, span_start, span_len, n_tokens`` — one row per
    maximal duplicated span, ``span_start`` 0-based in tokens.
    ``id_col`` must be unique per document (duplicate ids would
    merge two documents' position spaces in the island window).

    Scale shape: one shuffle to count per-shingle document frequency
    (map-side partial on the distinct pairs), one shuffle join of the
    position table against the duplicated-shingle set (both
    data-sized — no broadcast; hot boilerplate shingles are exactly
    the skewed keys AQE skew-join splits), then a per-document window
    (bounded by document length). Everything is JVM expressions; no
    Python in the row path. The position table feeds both consumers
    UNPERSISTED on purpose: it is corpus-sized (|tokens| rows — the
    _cache registry's contract is model/pool-sized relations only),
    and re-running a map-side explode twice is cheaper at scale than
    spilling the exploded corpus to executor disks. Within-document repetition deliberately
    does NOT count (that signal is the repetition quality score);
    ``min_docs`` counts distinct documents.
    """
    toked = _shingle_positions(df, id_col, text_col, k)
    dup_sh = (
        toked.select("__sh", id_col)
        .groupBy("__sh")
        .agg(F.count_distinct(F.col(id_col)).alias("__d"))
        .filter(F.col("__d") >= min_docs)
        .select("__sh")
    )
    return _span_islands(toked.join(dup_sh, "__sh"), id_col, k)


def _shingle_positions(
    df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(id, n_tokens, __p, __sh): one row per k-shingle POSITION.
    Tokenization is staged into its own projection (attribute
    reference, not an inlined split — shingles_of's O(n^2) codegen
    note)."""
    from top_produce_etl_spark.functions.text import shingles_of, tokens

    return df.select(
        F.col(id_col),
        tokens(text_col).alias("__toks"),
    ).select(
        F.col(id_col),
        F.size("__toks").alias("n_tokens"),
        F.posexplode(shingles_of(F.col("__toks"), k)).alias(
            "__p", "__sh"
        ),
    )


def _span_islands(hits: DataFrame, id_col: str, k: int) -> DataFrame:
    """Merge matched shingle positions (id, n_tokens, __p) into
    maximal spans. Gap islands: windows all have length k, so
    position order is also end order — a new span starts when this
    window clears the previous one entirely (p > prev_p + k merges
    overlap AND adjacency: contiguous matched text is one span)."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("__p")
    prev = F.lag("__p").over(w)
    marked = hits.select(id_col, "n_tokens", "__p").withColumn(
        "__new",
        F.when(prev.isNull() | (F.col("__p") > prev + k), 1).otherwise(0),
    ).withColumn(
        "__g",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return marked.groupBy(id_col, "__g").agg(
        F.min("__p").alias("span_start"),
        (F.max("__p") - F.min("__p") + k).alias("span_len"),
        F.first("n_tokens").alias("n_tokens"),
    ).select(id_col, "span_start", "span_len", "n_tokens")


def contaminated_spans(
    df: DataFrame,
    ref: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    ref_text_col: str | None = None,
) -> DataFrame:
    """Spans of ``df`` documents whose k-token shingles appear
    ANYWHERE in the ``ref`` corpus — span-level decontamination
    ("mask, don't drop"): where :func:`split_decontamination`-style
    checks REMOVE a train document that shares any shingle with the
    test set, this localizes the leak so the pipeline can strip just
    the contaminated spans (via the same strip transform) and keep
    the rest of the document.

    Output: ``id_col, span_start, span_len, n_tokens`` — identical
    contract to :func:`duplicate_spans`, so the two sources of
    "remove these token ranges" compose.

    Scale shape: the REF shingle vocabulary (distinct — an eval/test
    set, typically orders of magnitude smaller than the corpus) is
    the join's build side; the planner broadcasts it under its size
    threshold, so the corpus-sized position table streams past it
    map-side when it fits, and falls back to a shuffle join (AQE skew-safe) when it
    doesn't. One per-document window after that, as in
    :func:`duplicate_spans`.
    """
    from top_produce_etl_spark.functions.text import word_shingles

    ref_sh = (
        ref.select(
            F.explode(
                F.array_distinct(
                    word_shingles(ref_text_col or text_col, k)
                )
            ).alias("__sh")
        )
        .distinct()
    )
    toked = _shingle_positions(df, id_col, text_col, k)
    return _span_islands(toked.join(ref_sh, "__sh"), id_col, k)


def strip_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Materialize the corpus with cross-document duplicated spans
    REMOVED — the transform exact-substring dedup actually applies
    (detection is :func:`duplicate_spans`). Composes after
    document-level dedup (:func:`survivors_by`): run it on the
    survivor corpus so only residual shared boilerplate is stripped,
    not the body of documents whose every span is "duplicated" by
    their own exact copies.

    Output: ``id_col, text_clean, kept_tokens, n_tokens`` for EVERY
    input document (unspanned docs pass through whole; a fully
    duplicated document yields an empty string and kept_tokens 0).

    Scale shape: :func:`duplicate_spans`' two shuffles, plus one
    per-doc span collect (arrays bounded by document length — a doc
    has at most n/k disjoint spans) and a LEFT join back to the
    corpus; the strip itself is a per-row indexed ``filter`` lambda,
    JVM-side.
    """
    from top_produce_etl_spark.functions.text import tokens

    spans = duplicate_spans(df, id_col, text_col, k, min_docs)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                (F.col("span_start") + F.col("span_len")).alias("e"),
            )
        ).alias("__spans")
    )
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    joined = toked.join(per_doc, id_col, "left")
    in_any_span = lambda i: F.exists(  # noqa: E731
        "__spans", lambda sp: (i >= sp["s"]) & (i < sp["e"])
    )
    kept = F.when(
        F.col("__spans").isNull(), F.col("__toks")
    ).otherwise(F.filter("__toks", lambda x, i: ~in_any_span(i)))
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("text_clean"),
        F.size(kept).alias("kept_tokens"),
        F.size("__toks").alias("n_tokens"),
    )


def mask_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
    sentinel: str = "<mask>",
) -> DataFrame:
    """Replace each span with ONE ``sentinel`` token (instead of
    deleting it, as :func:`strip_duplicate_spans` does). The
    sentinel matters for decontamination: deleting a span makes the
    tokens on either side ADJACENT, which can mint brand-new
    k-shingles across the seam — some of which may themselves match
    the reference set, so plain deletion cannot promise zero
    residual overlap. A sentinel that does not occur in the
    reference vocabulary breaks every seam shingle by construction,
    making the zero-residual guarantee provable (the
    ``masked_decontamination_proof`` query computes it rather than
    asserting it).

    ``spans`` is any frame with (id_col, span_start, span_len) —
    :func:`duplicate_spans` and :func:`contaminated_spans` both
    qualify, INCLUDING their union: overlapping spans from multiple
    sources mask safely (every covered position is replaced; a
    start that falls inside another span just emits an extra
    sentinel, and ``masked_tokens`` sums the RAW span lengths, so
    it can exceed distinct covered positions under overlap).
    Output: ``id_col, text_masked, n_tokens, masked_tokens`` for
    EVERY input document. ``id_col`` must be unique per document
    (the fixture contract shared by every span operator here —
    duplicate ids would merge two documents' position spaces).

    Scale shape: one |spans|-row collect_list per doc (bounded by
    doc length), a LEFT join back to the corpus, and a per-row
    indexed transform — no extra shuffles beyond span detection.
    """
    from top_produce_etl_spark.functions.text import tokens

    if not sentinel or " " in sentinel:
        # a spaced sentinel would re-tokenize into MULTIPLE tokens,
        # silently shifting every downstream position/shingle
        raise ValueError(
            f"sentinel must be a single non-empty token, got {sentinel!r}"
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"),
                (F.col("span_start") + F.col("span_len")).alias("e"),
            )
        ).alias("__spans")
    )
    joined = df.select(F.col(id_col), tokens(text_col).alias("__toks")).join(
        per_doc, id_col, "left"
    )
    is_start = lambda i: F.exists(  # noqa: E731
        "__spans", lambda sp: sp["s"] == i
    )
    in_span = lambda i: F.exists(  # noqa: E731
        "__spans", lambda sp: (i >= sp["s"]) & (i < sp["e"])
    )
    replaced = F.when(F.col("__spans").isNull(), F.col("__toks")).otherwise(
        F.filter(
            F.transform(
                "__toks",
                lambda x, i: F.when(is_start(i), F.lit(sentinel))
                .when(in_span(i), F.lit(None).cast("string"))
                .otherwise(x),
            ),
            lambda x: x.isNotNull(),
        )
    )
    # long-seeded fold: span frames built by callers (or tests) may
    # carry bigint starts/lengths — an int seed fails analysis there
    masked_n = F.coalesce(
        F.aggregate(
            "__spans",
            F.lit(0).cast("long"),
            lambda acc, sp: acc + sp["e"].cast("long") - sp["s"].cast("long"),
        ),
        F.lit(0).cast("long"),
    )
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", replaced).alias("text_masked"),
        F.size("__toks").alias("n_tokens"),
        masked_n.alias("masked_tokens"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """DIRECTED n-gram containment join: ordered pairs (src, dst)
    with ``|S_src ∩ S_dst| / |S_src| >= threshold`` over k-word
    shingle sets — "src is (nearly) contained in dst". The
    asymmetric companion to :func:`jaccard_pairs`: a short document
    quoted whole inside a long one has high containment but LOW
    Jaccard (the union is dominated by the long side), so resemblance
    thresholds structurally miss quote/subset duplication — the case
    Broder's original resemblance-vs-containment distinction exists
    for, and a first-class leak mode in LLM training corpora
    (boilerplate-wrapped copies, quoted test items).

    Plan shape: identical to jaccard_pairs — the same persisted
    shingle table feeds sizes and both join sides; the unordered
    common-shingle counts compute ONCE and fan out into the two
    directions afterward (a |pairs|-row map, not a second join).
    Output: (src_id, dst_id, containment) for src != dst.
    """
    sized = _pair_overlaps(df, id_col, text_col, k, max_df)
    fwd = sized.select(
        F.col("a_id").alias("src_id"),
        F.col("b_id").alias("dst_id"),
        (F.col("common").cast("double") / F.col("na").cast("double"))
        .alias("containment"),
    )
    rev = sized.select(
        F.col("b_id").alias("src_id"),
        F.col("a_id").alias("dst_id"),
        (F.col("common").cast("double") / F.col("nb").cast("double"))
        .alias("containment"),
    )
    return fwd.unionByName(rev).filter(
        F.col("containment") >= threshold
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
) -> DataFrame:
    """Paragraph-grain exact dedup with FIRST-OCCURRENCE rewrite
    (round 11 — the Dolma recipe, Soldaini et al. 2024 §appendix,
    public): a paragraph (newline-delimited) that already appeared
    in an earlier document — or earlier in the SAME document — is
    removed; its globally first occurrence survives in place.
    Distinct from :func:`strip_duplicate_spans`, which removes
    duplicated k-token chunks from EVERY document: here exactly one
    copy of each paragraph survives, which is the right transform
    for boilerplate that is legitimate once (licenses, headers).

    Paragraphs shorter than ``min_chars`` are exempt (always kept)
    — at the default 1 only empty lines are exempt, so document
    structure survives the rewrite.

    Output: ``(id_col, n_paras, kept_paras, text_clean)`` for every
    input document.

    Scale shape: one (paragraph → min (doc, pos)) hash-agg, one
    hash join back on the paragraph key, one per-doc reassembly agg
    — all key-partitioned, nothing driver-sized; the first-
    occurrence election is the same min-keeper convention as
    :func:`exact_dedup` at a finer grain."""
    i = F.col(id_col)
    paras = df.select(
        i,
        F.posexplode(
            F.split(F.col(text_col), "\n", -1)
        ).alias("__pos", "__para"),
    )
    eligible = F.length(F.col("__para")) >= min_chars
    keeper = (
        paras.where(eligible)
        .groupBy("__para")
        .agg(
            F.min(
                F.struct(
                    i.cast("bigint").alias("i"),
                    F.col("__pos").alias("p"),
                )
            ).alias("__first")
        )
    )
    j = paras.join(keeper, "__para", "left")
    keep = (~eligible) | (
        (i.cast("bigint") == F.col("__first.i"))
        & (F.col("__pos") == F.col("__first.p"))
    )
    kept_struct = F.when(
        keep, F.struct(F.col("__pos").alias("p"), F.col("__para").alias("t"))
    )
    out = j.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_paras"),
        F.sum(keep.cast("long")).cast("bigint").alias("kept_paras"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(kept_struct)),
                lambda s: s["t"],
            ),
            "\n",
        ).alias("text_clean"),
    )
    return out


def paragraph_dedup_oracle_ctes(
    docs_cte: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_chars: int = 1,
) -> str:
    """DuckDB CTE chain replaying :func:`paragraph_dedup` over a CTE
    named ``docs_cte``; ends in ``para_dedup`` with the same
    columns (ordered string_agg FILTER replays the sorted kept
    fold)."""
    return f"""
pd_paras AS (
    SELECT {id_col}, ln - 1 AS pos,
           string_split({text_col}, chr(10))[ln] AS para
    FROM {docs_cte},
         UNNEST(range(1,
             len(string_split({text_col}, chr(10))) + 1)) u(ln)
),
pd_keeper AS (
    SELECT para,
           MIN(struct_pack(
               i := CAST({id_col} AS BIGINT), p := pos)) AS first
    FROM pd_paras
    WHERE length(para) >= {min_chars}
    GROUP BY 1
),
pd_flags AS (
    SELECT p.{id_col}, p.pos, p.para,
           (length(p.para) < {min_chars})
           OR (CAST(p.{id_col} AS BIGINT) = k.first.i
               AND p.pos = k.first.p) AS keep
    FROM pd_paras p LEFT JOIN pd_keeper k ON p.para = k.para
),
para_dedup AS (
    SELECT {id_col},
           CAST(COUNT(*) AS BIGINT) AS n_paras,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_paras,
           COALESCE(string_agg(CASE WHEN keep THEN para END,
                               chr(10) ORDER BY pos), '')
               AS text_clean
    FROM pd_flags
    GROUP BY 1
)"""
