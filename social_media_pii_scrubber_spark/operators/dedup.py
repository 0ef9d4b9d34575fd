"""Deduplication operators for training-data pipelines.

Not present in the reference (its only dedup-shaped logic is the
anti-membership skip, smparsers.py:207) — these are the web-scale
extensions the engine needs as first-class components:

- exact dedup: hash-groupBy on a normalized fingerprint. One shuffle on
  the fingerprint; at 100 TB this is the canonical first pass.
- MinHash + LSH: shingle → k minhashes → band → bucket self-join. The
  self-join is on (band_idx, band_key), so candidate generation never
  compares all pairs — the only quadratic blowup possible is within a
  bucket, bounded by band tuning.
- SimHash: 16-bit majority-vote signature; near-dups collide exactly.
- n-gram Jaccard: exact verification on LSH candidate pairs.

Hash families: exact dedup, MinHash-LSH and the Jaccard pair stage
take ``family=`` (operators/hashing.py: ``MD5`` oracle profile by
default, ``XXHASH64`` production). One pair stays apart on purpose.
SimHash: md5 hex-digit votes → a 16-char bit string vs xxhash64 bit
votes → one bigint; one function would branch on the family in both
the vote and the assembly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import let_expr
from .hashing import BAND_SIZE, MD5, NUM_HASHES, HashFamily
from .lineage import _cut_lineage

SHINGLE_K = 3          # words per shingle

SIMHASH_BITS = 16      # md5-parity oracle profile (max 32: md5 hex width)
SIMHASH_FAST_BITS = 64 # xxhash64 production profile


def ensure_min_parallelism(df: DataFrame, min_partitions: int | None = None
                           ) -> DataFrame:
    """Repartition ONLY when the input has fewer partitions than cores.

    CPU-heavy per-row stages (128-hash minhash, simhash) inherit the
    scan's split count; a small dimension-sized table arrives as 1-2
    splits and would serialize on one core. At 100-TB scale inputs have
    splits >> cores and this is a no-op — the check keeps the adaptive
    behavior from ever adding a corpus-wide shuffle where it isn't
    needed."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --- exact dedup ------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str, id_col: str, *,
                family: HashFamily = MD5) -> DataFrame:
    """Keep the min-id representative of each normalized-text group."""
    fp = df.withColumn("fp", family.fingerprint(F.col(text_col)))
    keep = fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return keep.select(id_col, "fp")


def exact_dedup_sql(table_sql: str, text_col: str, id_col: str, fp_sql: str) -> str:
    return (
        f"select min({id_col}) as {id_col}, {fp_sql} as fp "
        f"from {table_sql} group by fp"
    )


# --- shingles / minhash -----------------------------------------------------

def shingles_expr(text: Column, k: int = SHINGLE_K) -> Column:
    """Array of k-word shingles (distinct), lowercase whitespace tokens.

    Built as a k-level zip_with chain (cur = zip_with(cur, w[j+1:]))
    — O(words·k) with every sub-expression in HOF *argument* position
    (evaluated once per row). The former transform(sequence, i ->
    slice(w, i, k)) form captured the split() in the lambda body,
    which Spark re-evaluates per element — O(words²), 12× slower at
    200 words/doc (see functions/text.py let_expr); the let-bound
    rewrite fixed the asymptotics but the chain also beats it ~1.4×
    on short docs (no wrapper array). zip_with pads the shorter side
    with null, so positions past n-k+1 concat to null and are
    filtered before distinct."""
    w = F.split(F.trim(F.lower(text)), r"\s+")
    n = F.size(w)
    cur = w
    for j in range(1, k):
        cur = F.zip_with(cur, F.slice(w, j + 1, F.greatest(n, F.lit(1))),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    sh = F.filter(cur, lambda x: x.isNotNull())
    empty = F.array().cast("array<string>")
    return F.when(n >= k, F.array_distinct(sh)).otherwise(empty)


def shingles_sql(text: str, k: int = SHINGLE_K) -> str:
    w = f"regexp_split_to_array(trim(lower({text})), '\\s+')"
    return (
        f"list_distinct(list_transform("
        f"range(1, greatest(len({w}) - {k - 1}, 0) + 1), "
        f"i -> array_to_string(list_slice({w}, i, i + {k - 1}), ' ')))"
    )


def minhash_sql(shingles: str, seed: int) -> str:
    return (
        f"list_aggregate(list_transform({shingles}, "
        f"x -> md5('{seed}:' || x)), 'min')"
    )


def minhash_signature(df: DataFrame, text_col: str, id_col: str,
                      num_hashes: int | None = None, *,
                      family: HashFamily = MD5) -> DataFrame:
    """(id, mh_0..mh_{n-1}) minhash signature table; ``num_hashes``
    defaults to the family's width.

    Physical shape: explode shingles once → one groupBy(id) computing
    every min(hash(seed, shingle)) as plain aggregates. This keeps the
    expensive tokenize/shingle work to a single evaluation (the
    HOF-array formulation re-inlines it once per seed and runs
    interpreted — measured 4-16x slower), and the shuffle is tiny:
    partial aggregation reduces map-side to one row per (id) before the
    exchange. The doc side is adaptively repartitioned so a few-split
    input doesn't serialize the aggregate on one core. Docs shorter
    than the shingle width get a NULL signature (array_min of empty ≡
    min over no rows).
    """
    toks = ensure_min_parallelism(df).select(
        F.col(id_col),
        F.explode_outer(shingles_expr(F.col(text_col))).alias("sh"),
    )
    key = F.col("sh")
    if family.shingle_key is not None:
        # a separate column, so the per-seed aggregates share one hash
        # of each shingle string; md5 keeps the one-projection plan
        toks = toks.withColumn("h", family.shingle_key(key))
        key = F.col("h")
    aggs = [
        F.min(family.minhash(seed, key)).alias(f"mh_{seed}")
        for seed in range(num_hashes or family.num_hashes)
    ]
    return toks.groupBy(id_col).agg(*aggs)


def minhash_signature_sql(table_sql: str, text_col: str, id_col: str,
                          num_hashes: int = NUM_HASHES) -> str:
    sh = shingles_sql(text_col)
    cols = ", ".join(
        f"{minhash_sql(sh, seed)} as mh_{seed}" for seed in range(num_hashes)
    )
    return f"select {id_col}, {cols} from {table_sql}"


def lsh_candidate_pairs(df: DataFrame, text_col: str, id_col: str,
                        num_hashes: int | None = None,
                        band_size: int | None = None,
                        max_bucket: int | None = None, *,
                        family: HashFamily = MD5) -> DataFrame:
    """MinHash-LSH candidate duplicate pairs (id_a < id_b).

    Bands of `band_size` minhashes; docs sharing any band bucket become
    a candidate pair. The bucket join shuffles on the band key — at
    scale, band keys are high-cardinality hashes, so no skew. Widths
    default to the family's (4/2 md5 oracle profile, 128/8 xxhash64
    production profile).

    ``max_bucket`` (off by default — it changes the candidate set, so
    no oracle-gated path sets it) is the 100-TB skew guard: a band
    bucket of size k contributes k(k-1)/2 pairs, and the buckets that
    explode are precisely the boilerplate-universal bands whose member
    docs agree on a band of minhashes shared by millions of pages —
    pair-verifying those is the quadratic failure mode. Buckets larger
    than the cap are dropped WHOLE; a genuine near-dup pair still
    meets in its other bands (16 chances at the production width),
    which is why recall on planted J≈0.85 dups survives the cap
    (tests/test_dedup_recall.py pins this).
    """
    num_hashes = num_hashes or family.num_hashes
    band_size = band_size or family.band_size
    sig = minhash_signature(df, text_col, id_col, num_hashes, family=family)
    n_bands = num_hashes // band_size
    # ONE projection computes every band key, then posexplode — the
    # expensive shingle+minhash work appears exactly once in the plan.
    band_arr = F.array(*[
        family.band_key(
            *[F.col(f"mh_{b * band_size + j}") for j in range(band_size)])
        for b in range(n_bands)
    ])
    bands = sig.select(
        F.col(id_col), F.posexplode(band_arr).alias("band", "bkey")
    )
    # explicit exchange on the join key: both sides of the self-join are
    # then the SAME shuffle → Spark's ReusedExchange computes the
    # signature once total instead of once per side (the naive plan
    # recomputed shingles+md5 16x; see BENCH notes).
    bands = bands.repartition("band", "bkey")
    if max_bucket is not None:
        # bucket-size filter as a WINDOW count over the same
        # (band, bkey) partitioning the repartition above already
        # established — no join, no additional exchange (measured:
        # the semi-join alternative added two)
        _w = Window.partitionBy("band", "bkey")
        bands = (bands
                 .withColumn("_n", F.count(F.lit(1)).over(_w))
                 .filter(F.col("_n") <= max_bucket)
                 .drop("_n"))
    left = bands.alias("l")
    right = bands.alias("r")
    pairs = (
        left.join(right, on=["band", "bkey"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return pairs


def lsh_candidate_pairs_sql(table_sql: str, text_col: str, id_col: str,
                            num_hashes: int = NUM_HASHES,
                            band_size: int = BAND_SIZE) -> str:
    sig = minhash_signature_sql(table_sql, text_col, id_col, num_hashes)
    n_bands = num_hashes // band_size
    band_selects = []
    for b in range(n_bands):
        cols = " || ".join(f"mh_{b * band_size + j}" for j in range(band_size))
        band_selects.append(
            f"select {id_col}, {b} as band, md5({cols}) as bkey from sig"
        )
    bands_union = " union all ".join(band_selects)
    return (
        f"with sig as ({sig}), bands as ({bands_union}) "
        f"select distinct l.{id_col} as id_a, r.{id_col} as id_b "
        f"from bands l join bands r using (band, bkey) "
        f"where l.{id_col} < r.{id_col}"
    )


# --- n-gram Jaccard ---------------------------------------------------------

def jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                  threshold: float = 0.8, *,
                  family: HashFamily = MD5,
                  checkpoint: str | None = "local") -> DataFrame:
    """(id_a, id_b, jaccard): exact shingle Jaccard ≥ ``threshold`` over
    the MinHash-LSH candidate pairs in ``family`` at the family's width.
    The filter reads the unrounded ratio; the returned ``jaccard`` is
    rounded to 6 dp.

    The candidate list is MATERIALIZED (``checkpoint``: same
    local/reliable contract as components.connected_components; None =
    lazy) before it fans out to the two verify joins and the semi
    prefilter: AQE's runtime stage reuse does NOT deduplicate the
    post-band-exchange join+distinct subtree (measured r07: the lazy
    fan-out re-ran it per consumer, 3.8 s → 9.9 s). The list is pair
    ids only, orders of magnitude smaller than the corpus. Shingles are
    then computed for CANDIDATE docs only, via a left_semi prefilter,
    instead of corpus-wide once per verify side. Plain joins: the
    candidate set grows with the corpus (never hint-broadcast); AQE
    broadcasts it when genuinely small.
    """
    cands = lsh_candidate_pairs(df, text_col, id_col, family=family)
    if checkpoint:
        cands = _cut_lineage(cands, checkpoint)
    cand_ids = (cands.select(F.col("id_a").alias(id_col))
                .union(cands.select(F.col("id_b").alias(id_col)))
                .distinct())
    sh = (df.join(cand_ids, on=id_col, how="left_semi")
          .select(F.col(id_col), shingles_expr(F.col(text_col)).alias("sh")))
    joined = (
        cands
        .join(sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.nullif(F.size(F.array_union("sh_a", "sh_b")), F.lit(0))
    )
    return (joined.filter(jac >= threshold)
            .select("id_a", "id_b", F.round(jac, 6).alias("jaccard")))


def jaccard_pairs_sql(table_sql: str, text_col: str, id_col: str,
                      threshold: float = 0.8) -> str:
    cands = lsh_candidate_pairs_sql(table_sql, text_col, id_col)
    sh = shingles_sql(text_col)
    return (
        f"with cands as ({cands}), "
        f"sh as (select {id_col}, {sh} as sh from {table_sql}) "
        f"select id_a, id_b, round(jac, 6) as jaccard from ("
        f"  select id_a, id_b, "
        f"  len(list_intersect(a.sh, b.sh)) * 1.0 "
        f"        / nullif(len(list_distinct(list_concat(a.sh, b.sh))), 0) as jac "
        f"  from cands join sh a on cands.id_a = a.{id_col} "
        f"  join sh b on cands.id_b = b.{id_col}) "
        f"where jac >= {threshold}"
    )


# --- SimHash ----------------------------------------------------------------

def _token_bit_expr(token: Column, j: int) -> Column:
    """Pseudo-random bit j of a token: parity of hex digit j of md5."""
    return F.ascii(F.substring(F.md5(token.cast("binary")), j + 1, 1)) % 2


def simhash_signature(df: DataFrame, text_col: str, id_col: str,
                      bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash bitstring): majority vote over token hash bits.

    explode tokens → one groupBy(id) computing all bit sums in a single
    shuffled pass → assemble bitstring.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    )
    votes = [
        F.sum(_token_bit_expr(F.col("tok"), j) * 2 - 1).alias(f"v_{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    bit_chars = [
        F.when(F.col(f"v_{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
        for j in range(bits)
    ]
    return agg.select(F.col(id_col), F.concat(*bit_chars).alias("simhash"))


def simhash_signature_fast(df: DataFrame, text_col: str, id_col: str,
                           bits: int = SIMHASH_FAST_BITS) -> DataFrame:
    """Production SimHash: 64-bit signature as ONE bigint (no oracle
    twin — xxhash64 has no DuckDB equivalent; pytest locks semantics).

    One xxhash64 per token, then each signature bit j majority-votes the
    j-th bit of that hash: explode tokens → single groupBy(id) with
    `bits` shiftright/sum aggregates (all whole-stage codegen) →
    assemble the bigint. Near-dup distance = bit_count(a XOR b).
    """
    toks = ensure_min_parallelism(df).select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    votes = [
        F.sum((F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1))) * 2 - 1
              ).alias(f"v_{j}")
        for j in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sig = F.lit(0).cast("bigint")
    for j in range(bits):
        # bit 63 is the sign bit: its two's-complement value is -(2^63)
        val = (1 << j) if j < 63 else -(1 << 63)
        sig = sig + F.when(F.col(f"v_{j}") > 0, F.lit(val)).otherwise(F.lit(0)) \
            .cast("bigint")
    return agg.select(F.col(id_col), sig.alias("simhash64"))


def simhash_signature_sql(table_sql: str, text_col: str, id_col: str,
                          bits: int = SIMHASH_BITS) -> str:
    votes = ", ".join(
        f"sum((ascii(substr(md5(tok), {j + 1}, 1)) % 2) * 2 - 1) as v_{j}"
        for j in range(bits)
    )
    bit_chars = " || ".join(
        f"(case when v_{j} > 0 then '1' else '0' end)" for j in range(bits)
    )
    return (
        f"with toks as (select {id_col}, unnest(regexp_split_to_array("
        f"trim(lower({text_col})), '\\s+')) as tok from {table_sql}), "
        f"agg as (select {id_col}, {votes} from toks group by {id_col}) "
        f"select {id_col}, {bit_chars} as simhash from agg"
    )


# --- exact-substring duplication (Lee et al., 2022) --------------------------
# "Deduplicating Training Data Makes Language Models Better" removes
# repeated ~50-token substrings corpus-wide. The distributed detection
# shape: hash fixed-size token windows (strided), ONE shuffle counting
# window occurrences (partial-agg'd — a boilerplate window repeated
# 10^6 times sends one candidate per map task), join back, and report
# the per-doc fraction of windows that are duplicated anywhere in the
# corpus (including within the same doc — self-repetition is the same
# signal). The fraction drives drop/trim policy downstream.

SUBSTR_WINDOW = 10     # tokens per window (paper uses ~50; gate corpus is short)
SUBSTR_STRIDE = 5      # window start stride


def _window_hashes_expr(text: Column, window: int, stride: int) -> Column:
    """Array of md5 hashes of strided token windows (portable).
    let-bound like shingles_expr — the strided slice lambda must not
    re-inline the split()."""
    def body(w: Column) -> Column:
        n = F.size(w)
        starts = F.sequence(F.lit(1), n - (window - 1), F.lit(stride))
        hashes = F.transform(
            starts, lambda i: F.md5(F.array_join(F.slice(w, i, window), " ")
                                    .cast("binary"))
        )
        empty = F.array().cast("array<string>")
        return F.when(n >= window, hashes).otherwise(empty)

    return let_expr(F.split(F.trim(F.lower(text)), r"\s+"), body)


def substring_dup_stats(df: DataFrame, text_col: str, id_col: str,
                        window: int = SUBSTR_WINDOW,
                        stride: int = SUBSTR_STRIDE) -> DataFrame:
    """(id, n_windows, dup_windows, dup_fraction) per doc with >=1 window."""
    wins = ensure_min_parallelism(df).select(
        F.col(id_col),
        F.explode(_window_hashes_expr(F.col(text_col), window, stride)
                  ).alias("wh"),
    )
    counts = wins.groupBy("wh").agg(F.count(F.lit(1)).alias("occ"))
    return (
        wins.join(counts, on="wh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("occ") > 1).cast("bigint")).alias("dup_windows"),
        )
        .select(
            F.col(id_col), "n_windows", "dup_windows",
            F.round(F.col("dup_windows") / F.col("n_windows"), 6
                    ).alias("dup_fraction"),
        )
    )


def substring_dup_stats_sql(table_sql: str, text_col: str, id_col: str,
                            window: int = SUBSTR_WINDOW,
                            stride: int = SUBSTR_STRIDE) -> str:
    toks = f"regexp_split_to_array(trim(lower({text_col})), '\\s+')"
    return (
        f"with s as (select {id_col}, {toks} as w from {table_sql}), "
        f"starts as (select {id_col}, w, unnest(range(1, len(w) - {window - 1} + 1, {stride})) as i"
        f"  from s where len(w) >= {window}), "
        f"wins as (select {id_col}, "
        f"  md5(array_to_string(list_slice(w, i, i + {window - 1}), ' ')) as wh"
        f"  from starts), "
        f"counts as (select wh, count(*) as occ from wins group by wh) "
        f"select {id_col}, cast(count(*) as bigint) as n_windows, "
        f"cast(sum(case when occ > 1 then 1 else 0 end) as bigint) as dup_windows, "
        f"round(sum(case when occ > 1 then 1 else 0 end) * 1.0 / count(*), 6) as dup_fraction "
        f"from wins join counts using (wh) group by {id_col}"
    )


def substring_remove(df: DataFrame, text_col: str, id_col: str,
                     window: int = SUBSTR_WINDOW,
                     stride: int = SUBSTR_STRIDE) -> DataFrame:
    """Exact-substring REMOVAL (Lee et al. 2022 "ExactSubstr"): cut
    every duplicated ``window``-token span out of all but its first
    occurrence, corpus-wide.

    Semantics (deterministic, oracle-checked by the SQL twin below):
    token windows are hashed on the LOWERCASED text (same normalization
    as ``substring_dup_stats``); for each window content the first
    occurrence ordered by (doc id, start position) survives; every
    other occurrence's token span [start, start+window) is removed from
    its doc. Docs with no removals pass through BYTE-IDENTICAL; docs
    with removals are rebuilt from the surviving original-case tokens
    joined by single spaces (whitespace-normalized — the same
    normalization the detection tokenizer applies).

    Plan shape (mirrors ``lines.line_dedup``, the benched topology):
    one explode pass computes (doc, start, 128-bit window fingerprint)
    rows; ONE exchange keyed on the xxhash64-pair fingerprint is
    REUSED by BOTH the first-occurrence aggregate (min over a
    (doc,start) struct — partial-agg'd map-side, so a boilerplate
    window repeated 10^6 times costs one row per map task) and the
    probe side of the join (verified live: ReusedExchange in the AQE
    final plan; keying on the md5 STRING instead broke the stage-reuse
    canonicalization via the inner-join's isnotnull inference AND
    would shuffle a 32-char key where 16 fixed bytes do). The join is
    LEFT but never null — every window has a first occurrence — which
    keeps the probe subtree free of null filters, like line_dedup.
    Non-canonical occurrences collapse to a per-doc sorted
    removal-start list (rows only for docs that actually lose spans —
    sparse at web scale); one final join back to the corpus rebuilds
    the text. Rebuild cost is O(tokens x removal_spans) per doc via an
    indexed ``filter`` HOF — removal spans are bounded by
    tokens/stride, and the split() is let-bound once per row (never
    re-evaluated inside the lambda body, CLAUDE.md HOF invariant)."""
    i = F.col(id_col)
    wins = (
        ensure_min_parallelism(df)
        # null-id docs can never receive removals (the join-back key
        # won't match), so exclude them from detection EXPLICITLY and
        # BELOW the shared subtree: the final left join infers
        # isnotnull(id) on the removals side anyway, and without this
        # filter the inference pushes into the probe branch only —
        # breaking subtree parity and the ReusedExchange (measured:
        # the corpus got exploded + hashed twice)
        .filter(i.isNotNull())
        .select(
            i.alias("_id"),
            F.posexplode(_window_hashes_expr(F.col(text_col), window, stride)
                         ).alias("_p", "_wh"),
        )
        # start positions are 1-based (slice semantics): start = 1 + p*stride
        .select("_id", (F.lit(1) + F.col("_p") * stride).alias("_start"),
                F.xxhash64("_wh").alias("_h1"),
                F.xxhash64(F.lit("wh2"), F.col("_wh")).alias("_h2"))
        .repartition("_h1", "_h2")
    )
    first = wins.groupBy("_h1", "_h2").agg(
        F.min(F.struct(F.col("_id").alias("fid"),
                       F.col("_start").alias("fstart"))).alias("_first"))
    removals = (
        wins.join(first, on=["_h1", "_h2"], how="left")
        .filter((F.col("_first.fid") != F.col("_id"))
                | (F.col("_first.fstart") != F.col("_start")))
        .groupBy("_id")
        .agg(F.sort_array(F.collect_list("_start")).alias("_rm"))
        .withColumnRenamed("_id", id_col)
    )
    w = F.lit(window)

    def rebuild(toks: Column) -> Column:
        # token at 0-based index p (1-based position p+1) is removed iff
        # some removal start s covers it: s <= p+1 < s+window
        return F.array_join(
            F.filter(toks, lambda t, p: ~F.exists(
                F.col("_rm"), lambda s: (s <= p + 1) & (p + 1 < s + w))),
            " ")

    return (
        df.join(removals, on=id_col, how="left")
        .select(
            i,
            F.when(F.col("_rm").isNull(), F.col(text_col))
            .otherwise(let_expr(F.split(F.trim(F.col(text_col)), r"\s+"),
                                rebuild))
            .alias("text_sub_deduped"),
            # bigint on BOTH sides: the driver's value hash is
            # width-sensitive (int32 here vs the twin's bigint would
            # pass the local kind-comparison and fail at the gate)
            F.when(F.col("_rm").isNull(), F.lit(0))
            .otherwise(F.size("_rm")).cast("bigint")
            .alias("removed_windows"),
        )
    )


def substring_remove_sql(table_sql: str, text_col: str, id_col: str,
                         window: int = SUBSTR_WINDOW,
                         stride: int = SUBSTR_STRIDE) -> str:
    """DuckDB twin of :func:`substring_remove` — same window hashing,
    same (doc, start) first-occurrence ordering (min over a struct,
    the ``line_dedup_sql`` pattern), same indexed-mask rebuild. The
    twin groups on the md5 window hash directly; the Spark side's
    extra xxhash64-pair fingerprint is semantically identical up to a
    ~1e-15 collision bound and never appears in the output (the
    ``line_dedup`` argument)."""
    lo = f"regexp_split_to_array(trim(lower({text_col})), '\\s+')"
    orig = f"regexp_split_to_array(trim({text_col}), '\\s+')"
    return (
        f"with s as (select {id_col} as _id, {text_col} as _txt, "
        f"  {lo} as wl, {orig} as wo from {table_sql}), "
        f"st as (select _id, wl, "
        f"  unnest(range(1, len(wl) - {window} + 2, {stride})) as i"
        f"  from s where len(wl) >= {window} and _id is not null), "
        f"wins as (select _id, i, "
        f"  md5(array_to_string(list_slice(wl, i, i + {window - 1}), ' ')) as wh"
        f"  from st), "
        f"firsts as (select wh, "
        f"  min(struct_pack(fid := _id, fstart := i)) as f"
        f"  from wins group by wh), "
        f"rm as (select _id, list_sort(list(i)) as rl"
        f"  from wins join firsts using (wh)"
        f"  where not (f.fid = _id and f.fstart = i) group by _id) "
        f"select s._id as {id_col}, "
        f"case when r.rl is null then s._txt "
        # coalesce: DuckDB's array_to_string([]) is NULL, Spark's
        # array_join of an empty array is '' — a fully-removed doc
        # must be '' in both engines
        f"  else coalesce(array_to_string(list_where(s.wo, "
        f"    list_transform(range(1, len(s.wo) + 1), "
        f"      p -> len(list_filter(r.rl, q -> q <= p and p < q + {window})) = 0)"
        f"  ), ' '), '') end as text_sub_deduped, "
        f"cast(coalesce(len(r.rl), 0) as bigint) as removed_windows "
        f"from s left join rm r using (_id)"
    )
