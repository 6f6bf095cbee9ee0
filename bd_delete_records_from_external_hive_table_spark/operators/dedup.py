"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, and n-gram Jaccard — all expressed with built-in JVM expressions
(no Python in the row path).

Scale design (100 TB corpus):
- Exact dedup is a hash-groupBy: one shuffle on a 28-bit-salted md5 key;
  map-side partial aggregation collapses most duplicates before shuffle.
- MinHash signatures are computed in one projection pass (k permutations
  over the shingle-hash array — k array traversals inside codegen, no
  shuffle). LSH banding explodes each doc into ``bands`` rows → shuffle is
  on (band_idx, band_key), i.e. only docs sharing a band collide; the
  candidate self-join is an equi-join on the band key, so Spark co-locates
  buckets and never builds the quadratic pair space.
- Verification joins candidates back to shingle sets and computes exact
  Jaccard with array_intersect — only on candidate pairs.
- SimHash packs a document into 28 bits; near-dup = popcount(a^b) ≤ r via
  bit_count. Banding over bit-chunks would scale the pair search the same
  way as MinHash; here we expose signature + pairwise check.

References: the MinHash/LSH construction follows Broder (1997) and the
LSH banding analysis in Mining of Massive Datasets §3.4 (public).
"""

from __future__ import annotations

import random

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import HASH_PRIME, shingles, stable_hash28, ws_tokens

__all__ = [
    "exact_duplicate_groups", "exact_dedup",
    "minhash_permutations", "minhash_signatures", "banded_signatures",
    "lsh_candidate_pairs",
    "minhash_near_duplicates", "ngram_jaccard_pairs",
    "simhash_col", "simhash_signatures", "simhash_near_duplicates",
    "simhash_banded_near_duplicates", "connected_components",
    "containment_pairs", "banded_hamming_pairs",
    "prefix_filter_jaccard_pairs",
    "repeated_kgram_doc_stats",
]

SIMHASH_BITS = 28


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups by content hash: (content_hash, n_dups, keeper).
    Keeper = min id (deterministic survivor policy). NULL content is
    non-comparable — md5(NULL) is NULL and would collapse every NULL-text
    row into one bogus group, so those rows are excluded."""
    return (df
            .where(F.col(text_col).isNotNull())
            .groupBy(F.md5(F.col(text_col)).alias("content_hash"))
            .agg(F.count(F.lit(1)).alias("n_dups"),
                 F.min(id_col).alias("keeper"))
            .where(F.col("n_dups") > 1))


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep exactly one row (min id) per distinct content. Window-free:
    a groupBy keeper set + semi-join keeps the shuffle to the hash key.
    NULL-text rows are non-comparable and always survive."""
    nonnull = df.where(F.col(text_col).isNotNull())
    keepers = (nonnull.groupBy(F.md5(F.col(text_col)).alias("h"))
               .agg(F.min(id_col).alias(id_col))
               .select(id_col))
    return (nonnull.join(keepers, id_col, "left_semi")
            .unionByName(df.where(F.col(text_col).isNull())))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_permutations(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h'(x) = (a*x + b) mod p. With 28-bit
    hashes and a,b < p ≈ 2^28, a*x + b < 2^57 — safe under ANSI longs."""
    rng = random.Random(seed)
    return [(rng.randrange(1, HASH_PRIME), rng.randrange(0, HASH_PRIME))
            for _ in range(num_hashes)]


def _signatures_from_shingles(shf: DataFrame, id_col: str = "doc_id",
                              num_hashes: int = 32, seed: int = 42,
                              sh_col: str = "sh",
                              keep_shingles: bool = False) -> DataFrame:
    """MinHash signatures from a PRE-SHINGLED frame (id, sh) — the
    expression body of :func:`minhash_signatures`, split out so a
    pipeline that also needs the shingle sets for exact verification
    (:func:`minhash_near_duplicates`) shingles the corpus ONCE and
    derives both consumers from the same frame. ``keep_shingles=True``
    returns (id, sh, sig) — the one-projection combined frame consumers
    like d18's calibration need; the signature expression lives HERE
    only (round-12, r11 advice: a hand-inlined copy would silently
    diverge from the shared permutation/seed constants the oracles
    replay)."""
    perms = minhash_permutations(num_hashes, seed)

    def perm_fn(a: int, b: int):
        return lambda h: (a * h + b) % HASH_PRIME

    # Materialize the shingle-hash array in its own projection: the k
    # permutation expressions below each reference it, and CollapseProject
    # keeps a multiply-referenced non-cheap expression in its own stage, so
    # hashing runs once per row (not k times) and the codegen for the
    # signature stays small.
    extra = [F.col(sh_col)] if keep_shingles else []
    hashed = shf.select(F.col(id_col), *extra,
                        F.transform(F.col(sh_col),
                                    stable_hash28).alias("_h"))
    sig = F.array(*[
        F.coalesce(F.array_min(F.transform(F.col("_h"), perm_fn(a, b))),
                   F.lit(HASH_PRIME))
        for a, b in perms])
    return hashed.select(F.col(id_col), *extra, sig.alias("sig"))


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", num_hashes: int = 32,
                       shingle_size: int = 3, seed: int = 42) -> DataFrame:
    """(id, sig: array<long>[num_hashes]) — one projection, no shuffle.
    Docs with no shingles get the sentinel signature [p, p, ...]."""
    shf = df.select(
        F.col(id_col),
        F.array_distinct(shingles(ws_tokens(F.col(text_col)),
                                  shingle_size)).alias("sh"))
    return _signatures_from_shingles(shf, id_col, num_hashes, seed)


def banded_signatures(sig_df: DataFrame, id_col: str = "doc_id",
                      bands: int = 8,
                      num_hashes: int | None = None,
                      sentinel_filter: bool = True) -> DataFrame:
    """(id, band_idx, band_key) — the LSH band keys of each signature,
    exposed as a frame so ANY consumer (the pair join below, the
    streaming ingest store in streaming/ingest.py) shares ONE key
    construction: a store written with different key formatting would
    silently never collide with the pipeline's probes.

    Shingle-less docs share the sentinel signature [p, p, ...] — banding
    them would put millions of short/empty docs into ONE bucket and turn
    the candidate join quadratic. They cannot be near-dups of anything
    (Jaccard undefined/0), so they are excluded from banding.

    ``sentinel_filter=False`` is for callers that ALREADY excluded
    shingle-less docs upstream (``size(sh) > 0`` — exactly the docs
    whose signature is the sentinel): when ``sig`` is a live projection
    (not a checkpoint), Catalyst pushes the ``sig[0] < p`` predicate
    below the signature project and RE-SUBSTITUTES the expression — the
    executed filter then re-hashes every shingle (md5 transform + one
    permutation + array_min) per row just to re-derive emptiness, a
    second full hashing pass over the corpus on EACH banding side
    (round 12; the plan-verified §4.4 duplicated-evaluation class, in
    expression form)."""
    if num_hashes is None:  # derive from the signature when not provided
        row = sig_df.select(F.size("sig").alias("k")).first()
        if row is None:  # empty input → no band rows
            num_hashes = bands
        else:
            num_hashes = row["k"]
    rows = num_hashes // bands
    if sentinel_filter:
        sig_df = sig_df.where(F.col("sig")[0] < HASH_PRIME)
    return (sig_df.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band_idx"),
                     F.concat_ws("_", *[
                         F.col("sig")[i * rows + j].cast("string")
                         for j in range(rows)]).alias("band_key"))
            for i in range(bands)])).alias("band"))
        .select(id_col, "band.band_idx", "band.band_key"))


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str = "doc_id",
                        bands: int = 8,
                        num_hashes: int | None = None,
                        sentinel_filter: bool = True) -> DataFrame:
    """Band the signature and bucket-join: docs sharing ANY band's full
    sub-signature become a candidate pair (a < b). Shuffle key =
    (band_idx, band_key) — never the cross product.
    ``sentinel_filter`` forwards to :func:`banded_signatures`."""
    banded = banded_signatures(sig_df, id_col, bands, num_hashes,
                               sentinel_filter)
    a = banded.select(F.col(id_col).alias("a"), "band_idx", "band_key")
    b = banded.select(F.col(id_col).alias("b"), "band_idx", "band_key")
    # shuffle_hash pin: BOTH sides are the banded CORPUS (they grow
    # with N), and upstream checkpoints strip the size stats Catalyst
    # would need to see that — on the full-corpus consumers (d15/d16)
    # the executed plan broadcast the banded frame (the phantom-
    # broadcast class PLANS.md documents); a bucket-keyed shuffle join
    # is the only shape that survives corpus growth
    return (a.join(b.hint("shuffle_hash"), ["band_idx", "band_key"])
             .where(F.col("a") < F.col("b"))
             .select("a", "b").distinct())


def ngram_jaccard(a_tokens: Column, b_tokens: Column) -> Column:
    """Exact Jaccard over two distinct-element arrays."""
    inter = F.size(F.array_intersect(a_tokens, b_tokens)).cast("double")
    union = F.size(F.array_union(a_tokens, b_tokens))
    return inter / F.greatest(union, F.lit(1))


def minhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", num_hashes: int = 32,
                            bands: int = 8, shingle_size: int = 3,
                            threshold: float = 0.7,
                            seed: int = 42) -> DataFrame:
    """Full near-dup pipeline: signatures → LSH candidates → exact-Jaccard
    verification on candidates only. Returns (a, b, jaccard ≥ threshold).

    Round 11 (guide §1.2 step 1 — don't compute things twice): the
    shingle frame feeds THREE consumers (the signature projection and
    both verify sides), and without materialization each re-ran
    tokenize+shingle+distinct over the corpus — the single most
    expensive per-row transform in the pipeline, executed 3×. One
    localCheckpoint makes it compute once; signatures and the verify
    joins read the materialized arrays (the d17/sh0 lesson applied to
    the LSH family: d04/d15/d16/g03/d20 all inherit the fix).

    Round 12 (guide §4.4, expression form): shingle-less docs are
    dropped with a ``size(sh) > 0`` filter applied ABOVE the
    checkpoint (a pushdown barrier, so the test reads the materialized
    array header — an O(1) comparison) and banding skips its
    ``sig[0] < p`` sentinel filter, whose pushed-below-the-projection
    form used to re-hash every shingle per row on both banding sides
    just to re-derive emptiness. Equivalent by construction: a doc's
    signature is the sentinel iff its shingle set is empty, such docs
    were never banded (so never candidates), and the verify joins are
    inner joins from candidates — the pair set is unchanged.

    Lifetime note (r11 advice): the lazy localCheckpoint below is
    never explicitly unpersisted — blocks are reclaimed when the
    driver GCs the RDD, which is fine for query-scoped use (bench,
    plans) but means a long-lived session hammering the LSH family
    holds executor storage between GCs."""
    sh = df.select(
        F.col(id_col),
        F.array_distinct(shingles(ws_tokens(F.col(text_col)),
                                  shingle_size)).alias("sh")) \
        .localCheckpoint(eager=False)
    sigs = _signatures_from_shingles(sh.where(F.size("sh") > 0),
                                     id_col, num_hashes, seed)
    cands = lsh_candidate_pairs(sigs, id_col, bands, num_hashes,
                                sentinel_filter=False)
    a = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    thr_num = int(round(threshold * 10000))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1))
    # shuffle_hash pins: the shingle-set frames grow with the corpus
    # (see lsh_candidate_pairs) — broadcasting them only survives on a
    # single fat JVM
    return (cands.join(a.hint("shuffle_hash"), "a")
            .join(b.hint("shuffle_hash"), "b")
            .select("a", "b", inter.alias("_i"), union.alias("_u"))
            .where(F.col("_i") * 10000 >= F.col("_u") * F.lit(thr_num))
            .select("a", "b",
                    F.round(F.col("_i").cast("double") / F.col("_u"), 4)
                    .alias("jaccard")))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_size: int = 3,
                        threshold: float = 0.7) -> DataFrame:
    """Brute-force shingle-Jaccard pairs — the exact baseline the LSH path
    approximates. Quadratic; for oracles/tests and small candidate sets
    only (the scale path is minhash_near_duplicates).

    The threshold is an integer cross-multiply on the raw intersection/
    union sizes (``inter * 10000 >= union * round(threshold * 10000)``)
    so membership is rounding-free and matches an external oracle
    filtering on the same integers; ``jaccard`` is a 4-dp REPORTED
    value only.
    """
    sh = df.select(
        F.col(id_col),
        F.array_distinct(shingles(ws_tokens(F.col(text_col)),
                                  shingle_size)).alias("sh"))
    a = sh.select(F.col(id_col).alias("a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("b"), F.col("sh").alias("sh_b"))
    thr_num = int(round(threshold * 10000))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1))
    return (a.crossJoin(b).where(F.col("a") < F.col("b"))
            .select("a", "b", inter.alias("_i"), union.alias("_u"))
            .where(F.col("_i") * 10000 >= F.col("_u") * F.lit(thr_num))
            .select("a", "b",
                    F.round(F.col("_i").cast("double") / F.col("_u"), 4)
                    .alias("jaccard")))


# ---------------------------------------------------------------------------
# Duplicate clustering (transitive closure over near-dup pairs)
# ---------------------------------------------------------------------------

#: driver-side closure regime bound (round 12, the r11 ladder pattern
#: applied to clustering): a symmetrized edge set at or below this many
#: rows is collected (≤ ~5 MB) and closed with union-find on the
#: driver — microseconds of Python against the distributed path's
#: multiple shuffle rounds, each of which moves the SAME edge set
#: anyway. Above the cap (dedup graphs at real corpus scale) the
#: pointer-doubling rounds run unchanged; the result is the identical
#: (node, min-reachable-node) fixpoint either way — the same
#: cost-based-broadcast reasoning as guide §3.1, for an iterative
#: operator.
_CC_DRIVER_EDGE_CAP = 200_000


def _driver_components(spark, rows) -> list[tuple[int, int]]:
    """Union-find (path halving + union by min) over collected
    symmetrized edges → sorted (node, min-component) pairs."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        u, v = r[0], r[1]
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:   # min id becomes the root, so the root IS the label
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return sorted((n, find(n)) for n in parent)


def connected_components(pairs: DataFrame, src: str = "a", dst: str = "b",
                         max_iterations: int = 20) -> DataFrame:
    """(node, component) where component = min node id reachable through
    the pair graph — the transitive-closure step that turns pairwise
    near-dup hits into dedup clusters (A~B, B~C ⇒ {A,B,C} share one
    survivor).

    Iterative min-label propagation with pointer doubling: each round
    every node adopts the smallest label among itself and its neighbors
    (one shuffle: edges ⨝ labels, groupBy node), then labels compress
    through themselves (component := component-of-component), giving
    O(log diameter) convergence instead of O(diameter) — the same
    two-phase structure as the large-star/small-star algorithm
    (Kiveris et al. 2014). ``localCheckpoint`` truncates lineage so plan
    size stays constant across rounds. Convergence is detected by the
    (strictly decreasing, integral) sum of labels reaching a fixpoint —
    one cheap aggregate per round, no change-join.

    Round 12 (guide §2.4 — remove shuffles outright): initialization
    FOLDS the identity-label round's neighbor-min into label
    construction. With component₀ = node, round 1's phase 1
    (min over neighbors' labels) is just min over neighbor ids, so
    ``labels₀ = least(u, min(v)) GROUP BY u`` replaces the old
    node-distinct exchange (same one shuffle, strictly more progress)
    AND the old first edges⨝labels join; the convergence baseline is
    the init frame's own label sum, so a graph whose init already IS
    the fixpoint (every cluster a star/clique — the common dedup
    shape) confirms in ONE loop round instead of two. The fixpoint and
    its detection are unchanged: labels only ever decrease, the sum
    strictly decreases iff any label changed, and the returned frame
    is the identical (node, component) fixpoint.

    Round 12, cost-based closure regime: the sizing count (which also
    materializes the edge checkpoint) picks driver union-find for edge
    sets ≤ ``_CC_DRIVER_EDGE_CAP`` (every distributed round would
    shuffle that same edge set at least once, plus a blocking
    convergence job — the driver pass is strictly cheaper there) and
    the distributed rounds above it. Equality of the two regimes is
    test-asserted.

    An edge with a NULL endpoint joins nothing and is dropped before the
    regime split, so a node seen only on such edges is absent from the
    output under either regime.
    """
    e = pairs.select(F.col(src).cast("long").alias("u"),
                     F.col(dst).cast("long").alias("v")).dropna()
    # lazy checkpoint: the sizing count below materializes edges once;
    # whichever regime runs next reads the materialized blocks
    edges = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))) \
        .distinct().localCheckpoint(eager=False)
    n_edges = edges.count()
    if n_edges <= _CC_DRIVER_EDGE_CAP:
        from ..sources.tables import local_frame
        comp = _driver_components(pairs.sparkSession, edges.collect())
        return local_frame(pairs.sparkSession, comp,
                           "node long, component long")
    labels = (edges.groupBy(F.col("u").alias("node"))
              .agg(F.least(F.col("node"), F.min("v")).alias("component"))
              .localCheckpoint(eager=False))
    row = labels.agg(F.sum("component")).first()
    prev_sum = row[0] if row is not None else None
    for _ in range(max_iterations):
        # phase 1: min over neighbors
        neigh = (edges.join(labels, edges.v == labels.node)
                 .groupBy("u").agg(F.min("component").alias("nc")))
        labels = (labels.join(neigh, labels.node == neigh.u, "left")
                  .select(labels.node,
                          F.least(labels.component,
                                  F.coalesce(neigh.nc, labels.component))
                          .alias("component")))
        # phase 2: pointer doubling — follow the label's own label
        lab2 = labels.select(F.col("node").alias("n2"),
                             F.col("component").alias("c2"))
        # lazy checkpoint: the convergence aggregate right below is the
        # materializing action anyway — an eager checkpoint here spent
        # one extra blocking job per round (round 11, guide §1.2: the
        # per-round serial-job count IS the cost driver at bench SF)
        labels = (labels.join(lab2, labels.component == lab2.n2, "left")
                  .select(labels.node,
                          F.least(labels.component,
                                  F.coalesce(lab2.c2, labels.component))
                          .alias("component"))
                  .localCheckpoint(eager=False))
        cur_sum = labels.agg(F.sum("component")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_col(hashes: Column) -> Column:
    """28-bit SimHash (Charikar 2002) over an array of token hashes,
    entirely in codegen: per bit, fold +1/-1 votes; set the bit when the
    sum is positive. Pass a *materialized* hash-array column — the 28
    bit-vote folds each reference it (see simhash_signatures)."""

    def vote_fn(i: int):
        return lambda acc, h: (
            acc + (F.shiftright(h, i).bitwiseAND(F.lit(1)) * 2 - 1)
            .cast("int"))

    bits = []
    for i in range(SIMHASH_BITS):
        vote = F.aggregate(hashes, F.lit(0), vote_fn(i))
        bits.append(F.when(vote > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    # Two-step projection for the same CollapseProject reason as MinHash:
    # tokenize+hash once per row, 28 cheap bit-folds over the cached array.
    hashed = df.select(
        F.col(id_col),
        F.transform(F.array_distinct(ws_tokens(F.col(text_col))),
                    stable_hash28).alias("_h"))
    return hashed.select(F.col(id_col),
                         simhash_col(F.col("_h")).alias("simhash"))


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_hamming: int = 3) -> DataFrame:
    """Pairs with popcount(sig_a ^ sig_b) ≤ max_hamming, via all-pairs
    crossJoin — the exact quadratic baseline, for oracles/tests and
    bounded subsets only. The scale path is
    :func:`simhash_banded_near_duplicates`, which returns the IDENTICAL
    pair set through a chunk-equality equi-join."""
    sigs = simhash_signatures(df, text_col, id_col)
    a = sigs.select(F.col(id_col).alias("a"), F.col("simhash").alias("ha"))
    b = sigs.select(F.col(id_col).alias("b"), F.col("simhash").alias("hb"))
    return (a.crossJoin(b).where(F.col("a") < F.col("b"))
            .select("a", "b",
                    F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                    .alias("hamming"))
            .where(F.col("hamming") <= max_hamming))


def simhash_banded_near_duplicates(df: DataFrame, text_col: str = "text",
                                   id_col: str = "doc_id",
                                   max_hamming: int = 3,
                                   chunks: int | None = None) -> DataFrame:
    """Scale path for SimHash near-dup: split the 28-bit signature into
    ``chunks`` bit-ranges (default ``max_hamming + 1``) and equi-join on
    (chunk_idx, chunk_value). Pigeonhole: ≤ max_hamming differing bits
    cannot touch all ``max_hamming + 1`` chunks, so every qualifying pair
    shares at least one chunk verbatim — candidate generation is
    EXHAUSTIVE (same result set as the all-pairs baseline), but the join
    shuffles on chunk values instead of building N²/2 pairs. Surviving
    candidates are verified with the exact popcount; duplicates from
    multi-chunk agreement are collapsed before verification."""
    if chunks is None:
        chunks = max_hamming + 1
    sigs = simhash_signatures(df, text_col, id_col)
    # chunk i covers bits [starts[i], starts[i+1]) — widths differ by ≤1
    base, extra = divmod(SIMHASH_BITS, chunks)
    starts, pos = [], 0
    for i in range(chunks):
        starts.append(pos)
        pos += base + (1 if i < extra else 0)
    starts.append(SIMHASH_BITS)

    def chunk_key(i: int) -> Column:
        width = starts[i + 1] - starts[i]
        return (F.shiftright(F.col("simhash"), starts[i])
                .bitwiseAND(F.lit((1 << width) - 1)))

    banded = sigs.select(
        F.col(id_col), F.col("simhash"),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk"), chunk_key(i).alias("key"))
            for i in range(chunks)])).alias("ck")) \
        .select(id_col, "simhash", "ck.chunk", "ck.key")
    a = banded.select(F.col(id_col).alias("a"),
                      F.col("simhash").alias("ha"), "chunk", "key")
    b = banded.select(F.col(id_col).alias("b"),
                      F.col("simhash").alias("hb"), "chunk", "key")
    return (a.join(b, ["chunk", "key"]).where(F.col("a") < F.col("b"))
            .select("a", "b",
                    F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                    .alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .distinct())


# ---------------------------------------------------------------------------
# Shingle containment (asymmetric near-dup: subset/partial-copy detection)
# ---------------------------------------------------------------------------

def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", shingle_size: int = 3,
                      threshold: float = 0.8,
                      max_shingle_df: int | None = None) -> DataFrame:
    """Ordered near-dup pairs by shingle CONTAINMENT
    ``C(a→b) = |S(a) ∩ S(b)| / |S(a)|`` — the asymmetric complement of
    Jaccard (:func:`ngram_jaccard_pairs`): a short document pasted into a
    long one scores near 1.0 containment but a low Jaccard, so this is
    the screen that catches partial copies / quote-inflation, which
    symmetric dedup provably misses.

    Scale shape: an inverted-index equi-join, never a cross join. Each
    doc explodes to its DISTINCT shingles; pairs materialize only for
    docs that actually share a shingle, and the per-pair intersection
    size is a count aggregate on the join output. ``max_shingle_df``
    optionally drops shingles appearing in more than that many docs
    from the PAIR JOIN only — boilerplate shingles create the hot
    buckets that turn this quadratic at corpus scale. The denominator
    ``size_a`` is always computed from the UNPRUNED shingle set, so
    pruning can only shrink the intersection (never the denominator):
    reported containment only UNDERcounts — lossy in a bounded,
    auditable way; leave ``None`` for exact results.

    The threshold is applied as an integer cross-multiply
    (``n_shared * 10000 >= size_a * round(threshold * 10000)``), so it
    is rounding-free and an external oracle filtering on the exact same
    integers agrees bit-for-bit; the ``containment`` column is a
    4-dp-rounded REPORTED value only.

    Returns ``(a, b, n_shared, size_a, containment)`` for ordered pairs
    ``a != b`` with containment ≥ ``threshold``.
    """
    sh = (df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(
            shingles(ws_tokens(F.col(text_col)), shingle_size)))
        .alias("shingle")))
    # Denominator from the full shingle set — pruning must not inflate
    # containment by shrinking size_a along with the intersection.
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("size"))
    if max_shingle_df is not None:
        w_df = Window.partitionBy("shingle")
        sh = (sh.withColumn("_df", F.count(F.lit(1)).over(w_df))
              .where(F.col("_df") <= max_shingle_df).drop("_df"))
    a = sh.select(F.col("_id").alias("a"), "shingle")
    b = sh.select(F.col("_id").alias("b"), "shingle")
    shared = (a.join(b, "shingle").where(F.col("a") != F.col("b"))
              .groupBy("a", "b")
              .agg(F.count(F.lit(1)).alias("n_shared")))
    thr_num = int(round(threshold * 10000))
    return (shared
            .join(sizes.select(F.col("_id").alias("a"),
                               F.col("size").alias("size_a")), "a")
            .where(F.col("n_shared") * 10000
                   >= F.col("size_a") * F.lit(thr_num))
            .select("a", "b", "n_shared", "size_a",
                    F.round(F.col("n_shared")
                            / F.col("size_a").cast("double"), 4)
                    .alias("containment")))


# ---------------------------------------------------------------------------
# Cross-document repeated-substring statistics (Lee et al. 2021)
# ---------------------------------------------------------------------------

def repeated_kgram_doc_stats(df: DataFrame, text_col: str = "text",
                             id_col: str = "doc_id", k: int = 8,
                             min_docs: int = 2,
                             include_all: bool = False,
                             use_sort_free: bool = False) -> DataFrame:
    """Per-document repeated-substring statistics — the bounded k-gram
    form of exact substring dedup ("Deduplicating Training Data Makes
    Language Models Better", Lee et al. 2021, public): a k-token window
    whose text occurs in ``min_docs``-or-more DISTINCT documents marks
    a cross-document repeated span. Doc-level exact/near dedup
    (:func:`exact_dedup`, MinHash/SimHash) provably misses these — two
    long documents sharing one boilerplate paragraph are nowhere near
    each other in Jaccard space.

    Returns ``(id, n_grams, n_rep_grams)``: the doc's total k-gram
    positions and how many of them lie on a cross-document-shared gram
    (within-doc repetition alone never counts — the gram's document
    frequency, not its occurrence count, crosses ``min_docs``).
    ``include_all=True`` keeps docs whose repeated count is ZERO (any
    doc with ≥1 gram position) — corpus-profile consumers (t22) get the
    zero-rep population from the totals aggregate the pipeline already
    computes, instead of paying a third tokenize pass over the corpus.

    Scale shape — docs never pairwise-join: one gram-generation pass,
    one (gram, doc) partial count, one gram-keyed window attaching each
    gram's document frequency in place, one doc-keyed aggregate. The
    gram window costs a sort of the (gram, doc, occ) frame, but it
    reads the corpus text exactly ONCE.

    ``use_sort_free=True`` selects the round-6 complement formulation
    for ``min_docs == 2`` (a df==1 gram lives in exactly one document,
    so repeated positions = total − unique-gram positions: three
    hash aggregates + a doc-keyed join, no sort anywhere) — kept as an
    independently-derived cross-check (parity test-asserted) and for
    corpora whose gram frame is too wide to sort. It is NOT the default
    because it recomputes gram generation twice (Catalyst does not
    reuse the exchange across the totals and uniq consumers), and gram
    generation — interpreted shingle HOFs over the full text — is the
    dominant cost: measured round 7 on the t22 rollup (fresh session
    per variant, first execution after warmup), window vs sort-free is
    20.1 s vs 36.8 s at sf10 and 57.9 s vs 105.7 s at sf30 — the second
    text pass costs ~2× what the gram sort costs at both decades.

    sf30-canary postmortem (round 6): the 5.97×-for-3×-data flag was
    NOT the window — a staged profile showed gram GENERATION alone at
    5× (the scan claimed 32 splits but only ~#row-groups were
    non-empty, so the interpreted shingle HOFs ran ~12-wide; see
    ``spread()``'s size-guarded re-spread, which fixed the ratio).
    Round 7 re-measured both formulations under the fixed protocol
    (one session per variant — the shared-session canary had inflated
    later queries' numbers by ~45%) and the window path won at every
    scale, so the round-6 default flipped back.

    Grams never appear in the OUTPUT, only as grouping keys, so every
    shuffle rides ``xxhash64(gram)`` (8 bytes) instead of the ~50-byte
    k-token string — Lee et al.'s own trick. Counting is exact up to a
    64-bit collision (≤ n²/2⁶⁵ ≈ 1e-8 even at 10⁸ distinct grams per
    shard), far below any oracle-visible effect.
    """
    from ..sources.tables import spread

    toks = ws_tokens(F.col(text_col))
    # gram generation is interpreted-HOF compute (~15 µs/gram measured)
    # and the corpus may arrive as ONE row group = one scan task;
    # spread() widens to cluster parallelism only when the scan can't
    # (metadata check — a no-op on real multi-split inputs)
    grams = (spread(df).select(
        F.col(id_col),
        F.explode(shingles(toks, k)).alias("_g"))
        .select(F.col(id_col), F.xxhash64("_g").alias("gram")))
    # in the sort-free path gd feeds TWO downstream aggregates and
    # Catalyst does not reuse the exchange across them, so gram
    # generation runs twice there; a localCheckpoint of the 24M-row gd
    # measured WORSE than the recompute (19.4 s vs 14.9 s warm at
    # sf10), which is why that path recomputes rather than caches. The
    # default window path has exactly one consumer — no recompute.
    gd = (grams.groupBy("gram", id_col)
          .agg(F.count(F.lit(1)).alias("occ")))
    if use_sort_free and min_docs == 2:
        # complement formulation (round-6 default; see docstring): a
        # df==1 gram lives in exactly ONE document — first() is
        # deterministic there, the group has one row
        totals = gd.groupBy(id_col).agg(
            F.sum("occ").cast("long").alias("n_grams"))
        per_gram = gd.groupBy("gram").agg(
            F.count(F.lit(1)).alias("df"),
            F.first(id_col).alias("_doc"),
            F.first("occ").alias("_occ"))
        uniq = (per_gram.where(F.col("df") == 1)
                .groupBy(F.col("_doc").alias(id_col))
                .agg(F.sum("_occ").cast("long").alias("_n_uniq")))
        out = (totals.join(uniq, id_col, "left")
               .select(id_col, "n_grams",
                       (F.col("n_grams")
                        - F.coalesce(F.col("_n_uniq"), F.lit(0)))
                       .cast("long").alias("n_rep_grams")))
        return out if include_all else out.where(F.col("n_rep_grams") > 0)
    # default: unordered window attaches each gram's df in place (one
    # gram-keyed shuffle) — the corpus text is read and shingled ONCE
    gdd = gd.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("gram")))
    out = (gdd.groupBy(id_col)
           .agg(F.sum("occ").cast("long").alias("n_grams"),
                F.sum(F.when(F.col("df") >= min_docs, F.col("occ"))
                      .otherwise(0)).cast("long").alias("n_rep_grams")))
    return out if include_all else out.where(F.col("n_rep_grams") > 0)


# ---------------------------------------------------------------------------
# Generic banded hamming pair search (any integer signature width)
# ---------------------------------------------------------------------------

def banded_hamming_pairs(sigs: DataFrame, id_col: str = "doc_id",
                         sig_col: str = "sig", bits: int = 64,
                         max_hamming: int = 6,
                         chunks: int | None = None) -> DataFrame:
    """Pairs ``(a, b, hamming)`` with ``popcount(sig_a XOR sig_b) <=
    max_hamming`` over signatures of any width up to 64 bits — the
    banding generalization of :func:`simhash_banded_near_duplicates`
    (fixed 28-bit text simhash) for arbitrary signatures (perceptual
    image hashes, audio fingerprints).

    Pigeonhole exhaustiveness: with ``chunks >= max_hamming + 1``
    disjoint bit ranges, any pair within ``max_hamming`` agrees EXACTLY
    on at least one full chunk, so the (chunk_idx, chunk_key) equi-join
    finds every qualifying pair — candidate generation is a co-located
    hash join, never the quadratic cross product, and chunk keys spread
    load across ``2^(bits/chunks)`` buckets per chunk.
    """
    if chunks is None:
        chunks = max_hamming + 1
    if chunks < max_hamming + 1:
        raise ValueError("chunks must exceed max_hamming for exhaustive "
                         "pigeonhole candidate generation")
    base, extra = divmod(bits, chunks)
    starts, pos = [], 0
    for i in range(chunks):
        starts.append(pos)
        pos += base + (1 if i < extra else 0)
    starts.append(bits)

    def chunk_key(i: int) -> Column:
        width = starts[i + 1] - starts[i]
        return (F.shiftright(F.col(sig_col), starts[i])
                .bitwiseAND(F.lit((1 << width) - 1)))

    banded = sigs.select(
        F.col(id_col), F.col(sig_col),
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("chunk"), chunk_key(i).alias("key"))
            for i in range(chunks)])).alias("ck")) \
        .select(id_col, sig_col, "ck.chunk", "ck.key")
    a = banded.select(F.col(id_col).alias("a"),
                      F.col(sig_col).alias("ha"), "chunk", "key")
    b = banded.select(F.col(id_col).alias("b"),
                      F.col(sig_col).alias("hb"), "chunk", "key")
    return (a.join(b, ["chunk", "key"]).where(F.col("a") < F.col("b"))
            .select("a", "b",
                    F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
                    .alias("hamming"))
            .where(F.col("hamming") <= max_hamming)
            .distinct())


# ---------------------------------------------------------------------------
# Prefix-filter exact-threshold Jaccard similarity join (AllPairs family)
# ---------------------------------------------------------------------------

#: target shingle-set elements per grid cell (both sides together).
#: Sizes the verify grid g = ceil(2·Σ|sh| / this): per-cell Python sets
#: stay ~a few hundred MB while g (and therefore the replicated-set
#: shuffle 2·g·Σ|sh|) grows only as the corpus does.
_GRID_CELL_ELEMENTS = 3_000_000

#: exact-collapse ladder regime bound (round 11): when the corpus has
#: at most this many documents belonging to exact-duplicate shingle-set
#: families, the ladder's membership map is broadcast (≤ ~16 MB of
#: (md5, id) rows) instead of shuffled — the array-carrying groupBy(fp)
#: and both shuffle-hash expansion joins disappear. Above the cap the
#: round-9 full ladder runs (replica corpora: dup members ≈ corpus).
_LADDER_BROADCAST_CAP = 200_000

#: dfc-broadcast regime bounds (round 12, r11 verdict #4). The
#: document-frequency dictionary (g, df) is |vocab|-sized; when it
#: provably (or measurably) fits a broadcast, the tok⋈dfc join stops
#: exchanging the EXPLODED TOKEN FRAME — the widest frame in the
#: pipeline — by shingle and pipelines straight into the rank window's
#: rid exchange. Σ|sh| (already known from the ladder sizing aggregate,
#: zero extra jobs) bounds |vocab| from above, so:
#:   Σ|sh| ≤ _DFC_BCAST_SAFE  → broadcast without counting;
#:   Σ|sh| ≤ _DFC_COUNT_WORTH → one |vocab|-sized count job decides
#:                              (checkpointed, so the chosen path
#:                              reuses the aggregate);
#:   else                     → the pinned shuffle join (true-scale
#:                              corpora: an unbounded vocabulary must
#:                              never ride a broadcast).
#: 1M grams ≈ 25 MB of strings (~40-80 MB as a built hash relation) —
#: comfortable on any executor sized for 100 TB work; production
#: deployments tune via these module constants.
_DFC_BCAST_SAFE = 1_000_000
_DFC_COUNT_WORTH = 16_000_000
_DFC_BCAST_CAP = 1_000_000


def _grid_verify_jaccard(cand: DataFrame, sh: DataFrame,
                         thr_num: int,
                         cell_elements: int = _GRID_CELL_ELEMENTS,
                         verify: str = "auto",
                         set_stats: tuple | None = None) -> DataFrame:
    """EXACT Jaccard verify of candidate pairs WITHOUT replicating a
    shingle array per candidate — the round-9 fix for d17's verify
    ceiling. The naive form (cand ⋈ sets ⋈ sets) ships each unique
    set once PER CANDIDATE it appears in: at sf3 that was ~66M
    candidates × ~3 KB of arrays ≈ 200 GB of shuffle (the run died on
    disk). This is the classical theta-join GRID instead (Okcan &
    Riedewald, SIGMOD 2011, public): a g×g grid of cells keyed by
    (hash(fa) mod g, hash(fb) mod g); each set is replicated to its g
    row-cells (as an A-side) and g column-cells (as a B-side), each
    candidate lands in exactly ONE cell, and an Arrow-grouped pass
    builds per-cell dicts and verifies with exact Python set
    arithmetic. Shuffle volume = 2·g·Σ|sh| + candidate ids — linear in
    the corpus for the g this sizes (per-cell memory pinned at
    ~_GRID_CELL_ELEMENTS), instead of linear in CANDIDATES × set
    width. Same strings, same integer cross-multiply, same 4-dp
    rounding.

    Plan pick (round 10, the r9 verdict's cost-based ask): the
    per-candidate JVM join ships each unique set once PER CANDIDATE —
    shuffle ≈ C · 2·avg_set = 2·C·Σ|sh|/S elements (C candidates, S
    unique sets) — while the grid ships each set g times per side —
    2·g·Σ|sh| — plus a Python set-arithmetic verify that is slower
    per shipped element than codegen array_intersect. The join wins
    when C ≤ K·g·S and the grid past it; K = 4 gives the join that
    per-element headroom. Measured decision points: sf0.1 g=1 → join
    unconditionally (warm 3.0 s join vs 7.7 s grid, r8/r9 bench);
    sf1 C=7.57M vs 4gS=0.44M → grid (the join ships ~70× the bytes;
    wall times tied at 145 s, so no regression); sf3 C=66M → grid
    (the join wrote ~200 GB and died on disk, round 8). ``verify``
    pins the path for tests: "grid" / "join" / "auto" (cost pick).
    Both paths are equality-tested against brute force
    (tests/test_wave10.py forces the grid)."""
    g = 1
    if verify != "join":  # a pinned join needs no sizing job at all
        if set_stats is not None:
            # round 11: the caller already sized the unique-set frame
            # in its ladder pre-aggregation — reuse (Σ|sh|, S) instead
            # of paying a second serial sizing job
            total, n_sets = set_stats
        else:
            stats = sh.agg(F.sum(F.size("sh")).alias("n"),
                           F.count(F.lit(1)).alias("s")).collect()[0]
            total, n_sets = int(stats["n"] or 0), int(stats["s"] or 0)
        g = max(1, min(64, -(-2 * total // cell_elements)))
    use_join = verify == "join" or (verify == "auto" and g == 1)
    if verify == "auto" and g > 1:
        # counting C costs one pass over the (id-only) candidate join;
        # eager-checkpoint so the chosen verify path reuses it instead
        # of regenerating candidates from the raw prefix join.
        cand = cand.localCheckpoint(eager=True)
        use_join = cand.count() <= 4 * g * n_sets
    if use_join:
        sa = sh.select(F.col("fp").alias("fa"), F.col("sh").alias("sh_a"))
        sb = sh.select(F.col("fp").alias("fb"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.greatest(F.size(F.array_union("sh_a", "sh_b")),
                           F.lit(1))
        return (cand.join(sa.hint("shuffle_hash"), "fa")
                .join(sb.hint("shuffle_hash"), "fb")
                .select("fa", "fb", inter.alias("_i"), union.alias("_u"))
                .where(F.col("_i") * 10000 >= F.col("_u")
                       * F.lit(thr_num))
                .select("fa", "fb",
                        F.round(F.col("_i").cast("double")
                                / F.col("_u"), 4).alias("jaccard")))
    gl = F.lit(g)
    cells = F.sequence(F.lit(0), gl - 1)
    null_sh = F.lit(None).cast("array<string>")
    # key dtype follows the caller (string fingerprints or long rids);
    # set rows put their own key in BOTH slots (the off-side slot is
    # never read) — a null placeholder would coerce the union to
    # string (r9 advice) or, cast to bigint, turn the pandas columns
    # float64 via Arrow's nullable-int conversion.
    key_t = dict(cand.dtypes)["fa"]
    key_np = "int64" if key_t in ("bigint", "int", "long") else "object"
    rows_a = sh.select(
        F.explode(F.transform(
            cells, lambda j: F.pmod(F.xxhash64("fp"), gl) * gl + j))
        .alias("cell"),
        F.lit(0).alias("kind"), F.col("fp").cast(key_t).alias("fa"),
        F.col("fp").cast(key_t).alias("fb"), "sh")
    rows_b = sh.select(
        F.explode(F.transform(
            cells, lambda j: j * gl + F.pmod(F.xxhash64("fp"), gl)))
        .alias("cell"),
        F.lit(1).alias("kind"), F.col("fp").cast(key_t).alias("fa"),
        F.col("fp").cast(key_t).alias("fb"), "sh")
    rows_c = cand.select(
        (F.pmod(F.xxhash64("fa"), gl) * gl
         + F.pmod(F.xxhash64("fb"), gl)).alias("cell"),
        F.lit(2).alias("kind"), "fa", "fb", null_sh.alias("sh"))
    tagged = rows_a.unionByName(rows_b).unionByName(rows_c)

    def verify_cell(pdf):
        a = {f: frozenset(s) for k, f, s in
             zip(pdf["kind"], pdf["fa"], pdf["sh"]) if k == 0}
        b = {f: frozenset(s) for k, f, s in
             zip(pdf["kind"], pdf["fb"], pdf["sh"]) if k == 1}
        fa_o, fb_o, i_o, u_o = [], [], [], []
        for k, fa, fb in zip(pdf["kind"], pdf["fa"], pdf["fb"]):
            if k != 2:
                continue
            sa, sb = a[fa], b[fb]
            i = len(sa & sb)
            u = len(sa) + len(sb) - i
            if i * 10000 >= u * thr_num:
                fa_o.append(fa)
                fb_o.append(fb)
                i_o.append(i)
                u_o.append(u)
        return pd.DataFrame({"fa": pd.Series(fa_o, dtype=key_np),
                             "fb": pd.Series(fb_o, dtype=key_np),
                             "i": pd.Series(i_o, dtype="int64"),
                             "u": pd.Series(u_o, dtype="int64")})

    verified = tagged.groupBy("cell").applyInPandas(
        verify_cell, f"fa {key_t}, fb {key_t}, i long, u long")
    return verified.select(
        "fa", "fb",
        F.round(F.col("i").cast("double") / F.col("u"), 4)
        .alias("jaccard"))

def prefix_filter_jaccard_pairs(df: DataFrame, text_col: str = "text",
                                id_col: str = "doc_id",
                                shingle_size: int = 3,
                                threshold: float = 0.6,
                                grid_cell_elements: int =
                                _GRID_CELL_ELEMENTS,
                                verify: str = "auto") -> DataFrame:
    """EXACT Jaccard-threshold similarity join via document-frequency-
    ordered prefix filtering — the AllPairs/PPJoin family ("Scaling Up
    All Pairs Similarity Search", Bayardo, Ma & Srikant, WWW 2007,
    public). Same contract as :func:`ngram_jaccard_pairs` (every pair
    with shingle-set Jaccard ≥ ``threshold``, exact), but NEVER builds
    the quadratic pair space: with every document's shingle set sorted
    by one GLOBAL order (ascending corpus document frequency, ties by
    shingle value), any pair with J ≥ t must collide inside the first
    ``|S| − ⌈t·|S|⌉ + 1`` shingles of both sets — so candidates come
    from an equi-join on PREFIX shingles only, and the prefix holds the
    RAREST shingles, keeping collision lists short. Candidates are then
    verified with the exact integer cross-multiply, so the optimization
    is lossless by construction (equality vs the brute-force baseline
    is test-asserted).

    Scale shape (100 TB): three shuffles that all key on bounded-width
    values — shingle-keyed df count, per-document rank (window over the
    document key; partition size = one document's shingle set), and the
    prefix equi-join — plus the GRID-partitioned exact verify
    (:func:`_grid_verify_jaccard`): candidate verification ships each
    unique shingle set g times (g sized so per-cell memory is pinned),
    never once per candidate — the naive per-candidate array join
    wrote ~200 GB of shuffle at sf3 and died on disk (round 9).
    No crossJoin anywhere; the LSH path (:func:`minhash_near_duplicates`)
    trades exactness for fewer candidates, this path trades candidate
    volume for an exactness guarantee. Threshold membership is the
    integer cross-multiply (``inter * 10000 >= union * thr_num``) on
    BOTH the prefix length and the verify step, so no float boundary
    exists anywhere in the decision path.

    Round 9 (the verdict's d17 verify-join ceiling): the operator now
    runs the EXACT-COLLAPSE LADDER internally — documents with
    identical shingle SETS collapse to one representative (md5 of the
    length-prefix-encoded sorted set — injective, so no cross-set
    collision is possible) BEFORE the candidate/verify machinery, and
    the output re-expands afterwards: cross-family pairs inherit the
    representative pair's Jaccard (identical sets ⇒ identical
    similarity), intra-family pairs are exact duplicates (J = 1.0) by
    construction. LOSSLESS for any input: the prefix bound holds under
    ANY global shingle order, and verification is exact either way —
    equality vs brute force stays test-asserted, now including planted
    exact-duplicate families. On replica-built corpora (sf1/sf3/sf10,
    where each near-dup family grows with the replica count k) this
    removes the k² blow-up from the verify join's shingle-array
    shuffle — the ~70 GB sf3 stop documented in round 8 — because only
    UNIQUE sets ever carry arrays through a shuffle; the k² pair
    output itself materializes as the cheap id-only expansion joins.

    Round 11: the ladder is COST-BASED. A narrow (fp, id) aggregate
    sizes the duplicate population first; zero dup members → identity
    (ladder skipped entirely), ≤ ``_LADDER_BROADCAST_CAP`` members →
    broadcast ladder (dup-family map broadcasts; no array-carrying
    groupBy(fp) shuffle, expansion joins broadcast instead of
    shuffle-hash), else the full round-9 ladder for replica corpora.
    """
    thr_num = int(round(threshold * 10000))
    # ---- exact-collapse: one representative per distinct shingle set.
    # Sorted sets make the fingerprint canonical; the length-prefixed
    # element encoding is injective (a separator could in principle
    # occur inside a token). Empty-set docs can never reach threshold
    # (J = 0 by the union-≥-1 rule) and are dropped up front, exactly
    # as the un-collapsed pipeline never produced candidates for them.
    enc = F.concat_ws("", F.transform("sh", lambda s: F.concat(
        F.length(s).cast("string"), F.lit(":"), s)))
    sh0 = (df.select(
        F.col(id_col),
        F.array_sort(F.array_distinct(
            shingles(ws_tokens(F.col(text_col)), shingle_size)))
        .alias("sh"))
        .where(F.size("sh") > 0)
        .withColumn("fp", F.md5(enc))
        .localCheckpoint(eager=False))
    # the unique-set frame feeds FOUR consumers (df counts, the rank
    # join's probe side, and both verify sides); without materialization
    # each re-derives it from the raw text scan — 12 corpus scans in the
    # executed plan (the d10 lesson). localCheckpoint truncates lineage
    # so the text column is read and shingled exactly once. The family
    # key downstream is NOT the md5 string: every join/window below
    # keys on rid = min(id) per family — a compact BIGINT (32-char
    # string keys measured ~2x slower through the cand/verify shuffles).
    # ---- cost-based collapse ladder (round 11, r10 verdict #1): one
    # NARROW groupBy over (fp, id) — no shingle array rides it — sizes
    # the duplicate population, then the ladder picks the cheapest of
    # three regimes:
    #   identity   (0 dup members): rid := id; no groupBy(fp) of
    #              arrays, no membership join, no expansion joins.
    #   broadcast  (few dup members, the bench-SF shape: 8 families in
    #              5500 docs at sf0.1): the dup-family map (fp → rid,
    #              dup families ONLY) broadcasts; representatives come
    #              from a narrow broadcast join off the checkpoint —
    #              the full ladder's array-carrying groupBy(fp) shuffle
    #              and its extra checkpoint disappear, and expansion
    #              becomes broadcast joins over the tiny member list.
    #   full       (replica corpora, where dup members ≈ the corpus):
    #              the round-9 ladder unchanged — dup volume this high
    #              is exactly what it exists for (k² collapse).
    # The sizing aggregate triggers sh0's lazy localCheckpoint — work
    # every downstream consumer needed anyway.
    famc = (sh0.select("fp", F.size("sh").alias("w"), id_col)
            .groupBy("fp")
            .agg(F.count(F.lit(1)).alias("c"), F.min(id_col).alias("rid"),
                 F.first("w").alias("w"))
            .localCheckpoint(eager=False))
    _t = famc.agg(F.count(F.lit(1)).alias("n_fam"),
                  F.sum("c").alias("n_docs"),
                  F.sum("w").alias("tot_w")).first()
    n_dup_members = int(_t["n_docs"]) - int(_t["n_fam"])
    # (Σ|sh| over UNIQUE sets, S) — the grid verify's sizing inputs,
    # computed here for free so the verify skips its own sizing job
    set_stats = (int(_t["tot_w"] or 0), int(_t["n_fam"]))
    fam_small = None
    if n_dup_members == 0:
        sh = sh0.select(F.col(id_col).alias("rid"), "sh")
    elif n_dup_members <= _LADDER_BROADCAST_CAP:
        fam_small = famc.where(F.col("c") > 1).select("fp", "rid")
        sh = (sh0.join(F.broadcast(fam_small), "fp", "left")
              .where(F.col("rid").isNull()
                     | (F.col("rid") == F.col(id_col)))
              .select(F.coalesce("rid", F.col(id_col)).alias("rid"), "sh"))
    else:
        sh = (sh0.groupBy("fp").agg(F.first("sh").alias("sh"),
                                    F.min(id_col).alias("rid"))
              .localCheckpoint(eager=False))
    tok = sh.select("rid", F.size("sh").alias("n"),
                    F.explode("sh").alias("g"))
    dfc = tok.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    # round 12 (r11 verdict #4, guide §3.1): broadcast the df
    # dictionary when it fits — the tok⋈dfc join then needs NO exchange
    # of the exploded token frame (the pipeline's widest), which flows
    # straight from the sh checkpoint into the rank window's rid
    # exchange. tot_w = Σ|sh| of EXACTLY the frame tok explodes (the
    # ladder sizing already computed it — no extra job) bounds |vocab|;
    # the mid band pays one counted decision, true-scale corpora keep
    # the pinned shuffle join.
    tot_w = set_stats[0]
    bcast_dfc = tot_w <= _DFC_BCAST_SAFE
    if not bcast_dfc and tot_w <= _DFC_COUNT_WORTH:
        dfc = dfc.localCheckpoint(eager=False)
        bcast_dfc = dfc.count() <= _DFC_BCAST_CAP
    dfc = F.broadcast(dfc) if bcast_dfc else dfc.hint("shuffle_hash")
    w = Window.partitionBy("rid").orderBy("df", "g")
    # ⌈thr·n⌉ in pure integers: (thr_num·n + 9999) div 10000
    prefix_len = (F.col("n")
                  - F.floor((F.col("n") * thr_num + 9999) / 10000)
                  + 1)
    # EVERY join below pairs two corpus-growing frames, and the
    # localCheckpoint upstream makes them Scan ExistingRDD nodes whose
    # size statistics Catalyst no longer knows — the executed plan at
    # sf0.1 BROADCAST the 11M-row exploded token frame and the prefix
    # frame (the SF-invariant-broadcast trap; see the dim()/threshold
    # policy in PLANS.md). shuffle_hash pins keep each a partitioned
    # join at any scale WITHOUT sort-merge's full sort of both sides
    # (measured at sf1: 144 s vs 208-238 s merge vs a broadcast plan
    # that only survives on a single 128 GB JVM); dfc (the gram→df
    # dictionary) also grows with the corpus, so it is pinned on the
    # unbounded path — the cost-based dfc broadcast above applies only
    # when |vocab| is PROVEN (or counted) small.
    pref = (tok.join(dfc, "g")
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= prefix_len)
            .select("rid", "n", "rk", "g"))
    # PPJoin's length + positional filters (Xiao, Wang, Lin & Yu,
    # WWW 2008, public) prune candidate OCCURRENCES before the
    # distinct, in pure integers. Both are LOSSLESS under
    # any-occurrence semantics: J(a,b) ≥ t bounds the size ratio
    # (t·|b| ≤ |a|·10⁴/thr ⇔ length filter), and the FIRST common
    # prefix gram of a true pair always satisfies the overlap upper
    # bound 1 + min(|a|−ra, |b|−rb) ≥ ⌈t/(1+t)·(|a|+|b|)⌉ — so a pair
    # is kept iff at least one shared occurrence passes, and every
    # true pair has one. Equality vs brute force stays test-asserted.
    na, nb = F.col("pa.n"), F.col("pb.n")
    ra, rb = F.col("pa.rk"), F.col("pb.rk")
    length_ok = ((na * 10000 >= nb * thr_num)
                 & (nb * 10000 >= na * thr_num))
    pos_ok = ((F.lit(1) + F.least(na - ra, nb - rb))
              * (10000 + thr_num) >= (na + nb) * thr_num)
    cand = (pref.alias("pa").join(pref.alias("pb").hint("shuffle_hash"), "g")
            .where((F.col("pa.rid") < F.col("pb.rid"))
                   & length_ok & pos_ok)
            .select(F.col("pa.rid").alias("fa"),
                    F.col("pb.rid").alias("fb"))
            .distinct())
    rep_pairs = _grid_verify_jaccard(
        cand, sh.select(F.col("rid").alias("fp"), "sh"), thr_num,
        grid_cell_elements, verify, set_stats=set_stats)
    if n_dup_members == 0:
        # identity regime: rid == id, families are singletons — the
        # verified representative pairs are the final answer (fa < fb
        # holds because candidates were generated with pa.rid < pb.rid).
        return rep_pairs.select(F.col("fa").alias("a"),
                                F.col("fb").alias("b"), "jaccard")
    if fam_small is not None:
        # broadcast regime: only dup-family members (≤ cap, known from
        # the sizing aggregate) need membership rows; every expansion
        # join broadcasts them, so rep_pairs never shuffles. Non-dup
        # rids expand to themselves via the left-join coalesce.
        mem_dup = (sh0.join(F.broadcast(fam_small), "fp")
                   .select("rid", id_col))
        ma = mem_dup.select(F.col("rid").alias("fa"),
                            F.col(id_col).alias("_xa"))
        mb = mem_dup.select(F.col("rid").alias("fb"),
                            F.col(id_col).alias("_xb"))
        xa = F.coalesce("_xa", F.col("fa"))
        xb = F.coalesce("_xb", F.col("fb"))
        cross = (rep_pairs
                 .join(F.broadcast(ma), "fa", "left")
                 .join(F.broadcast(mb), "fb", "left")
                 .select(F.least(xa, xb).alias("a"),
                         F.greatest(xa, xb).alias("b"), "jaccard"))
        intra = (mem_dup.alias("x")
                 .join(F.broadcast(mem_dup.alias("y")),
                       (F.col("x.rid") == F.col("y.rid"))
                       & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")))
                 .select(F.col(f"x.{id_col}").alias("a"),
                         F.col(f"y.{id_col}").alias("b"),
                         F.lit(1.0).alias("jaccard")))
        return cross.unionByName(intra)
    mem = (sh0.select("fp", id_col)
           .join(sh.select("fp", "rid").hint("shuffle_hash"), "fp")
           .select("rid", id_col))
    # ---- re-expansion: families are disjoint, so cross-family pairs
    # can't duplicate and least/greatest restores the a < b contract;
    # intra-family pairs (identical sets) are J = 1.0 by definition.
    # These joins carry only (rid, id) longs — no shingle array ever
    # rides an expansion shuffle; both sides grow with the corpus →
    # pinned.
    cross = (rep_pairs
             .join(mem.select(F.col("rid").alias("fa"),
                              F.col(id_col).alias("_ma"))
                   .hint("shuffle_hash"), "fa")
             .join(mem.select(F.col("rid").alias("fb"),
                              F.col(id_col).alias("_mb"))
                   .hint("shuffle_hash"), "fb")
             .select(F.least("_ma", "_mb").alias("a"),
                     F.greatest("_ma", "_mb").alias("b"), "jaccard"))
    intra = (mem.alias("x")
             .join(mem.alias("y").hint("shuffle_hash"),
                   (F.col("x.rid") == F.col("y.rid"))
                   & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")))
             .select(F.col(f"x.{id_col}").alias("a"),
                     F.col(f"y.{id_col}").alias("b"),
                     F.lit(1.0).alias("jaccard")))
    return cross.unionByName(intra)
