"""Candidate-pair generation: MinHash-LSH bands, SimHash Hamming
blocks, and winnowed substring anchors.

All three generators share the same physical shape — explode a per-doc
key set, group by the key, enumerate the ``a < b`` pairs inside each
bucket — so :func:`unified_candidates` runs them as one grouping over a
composite key. Everything here is native Column expressions (band
hashing via ``F.hash`` over signature slices, SimHash blocks via
shifts/masks, Hamming verify via ``bit_count(a ^ b)``): zero Python in
the candidate path.

Skew handling (north_rule: "partitioning / shuffle / skew handled
explicitly"):
* exact-duplicate collapse happens UPSTREAM (pipeline.py) so identical
  boilerplate can't form mega-buckets;
* any residual bucket larger than ``max_bucket_size`` is excluded from
  pair enumeration and surfaced in the metrics table (dropped-bucket
  accounting) rather than silently exploding O(n^2);
* AQE skew-join splitting stays on for the join itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from comparador_de_registros_spark.plans.configs import (
    LshConfig,
    SimHashConfig,
)


def _self_join_pairs(
    keyed: DataFrame,
    key_cols: list[str],
    max_bucket_size: int,
    source: str,
) -> tuple[DataFrame, DataFrame]:
    """(conv_id, *key_cols) -> distinct candidate pairs (a, b, source)
    with a < b, skipping buckets over ``max_bucket_size``.

    Returns (pairs, dropped_buckets) — the latter for metrics/lineage.
    """
    sized = keyed.groupBy(*key_cols).agg(
        F.collect_list("conv_id").alias("members"), F.count("*").alias("sz")
    )
    ok = sized.where(F.col("sz").between(2, max_bucket_size))
    dropped = sized.where(F.col("sz") > max_bucket_size).select(
        *key_cols, "sz"
    )
    # enumerate pairs inside each bucket without a second shuffle:
    # the bucket is already materialized as an array (bounded by the
    # cap), so a sorted-array double-explode beats re-joining the
    # exploded table against itself at scale.
    m = F.array_sort("members")
    pairs = (
        ok.select(m.alias("m"))
        .select(F.posexplode("m").alias("i", "a"), F.col("m"))
        .select("a", F.explode(F.slice("m", F.col("i") + 2, F.size("m"))).alias("b"))
        .select("a", "b")
        .distinct()
        .withColumn("source", F.lit(source))
    )
    return pairs, dropped


def lsh_band_keys(sig_col: str, cfg: LshConfig) -> Column:
    """array of per-band hashes: band i = hash(slice(sig, i*r, r), i)."""
    return F.array(
        *[
            F.hash(
                F.slice(F.col(sig_col), i * cfg.rows + 1, cfg.rows), F.lit(i)
            )
            for i in range(cfg.bands)
        ]
    )


def unified_candidates(
    signatures: DataFrame,
    lsh_cfg: LshConfig,
    sim_cfg: SimHashConfig,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """All three generators through ONE shuffle.

    Each generator is an explode -> groupBy over the signature table;
    run separately that is three shuffles (~3x the stage-scheduling
    overhead), and at scale the bucket grouping dominates the
    candidates stage. So the three key streams are unioned under a
    (gen, key1, key2) composite key and grouped ONCE; the SimHash
    Hamming post-filter is applied per-pair on the carried
    fingerprints. The generator contracts:

    * ``lsh``: some band's ``rows``-wide MinHash slice is equal;
    * ``simhash``: the 64-bit fingerprints are within Hamming distance
      ``hamming_k`` (pigeonhole blocking: ``hamming_k + 1`` blocks, two
      such fingerprints agree on at least one full block);
    * ``substring``: the docs share a winnowed anchor (any common
      substring of >= window + gram - 1 bytes shares one).

    -> (candidates(a, b, sources), dropped(generator, sz), buckets)

    **Delta form.** When ``signatures`` carries a boolean ``is_new``
    column (state rows False, the arriving batch True), only the
    buckets that hold at least one new doc are grouped, and only pairs
    with at least one new member are enumerated; the pairs between two
    old docs were found when the later of them arrived. Such a bucket
    keeps its old members, so the ``max_bucket_size`` cap applies to
    the whole bucket exactly as in the batch form, and a pair's
    ``sources`` are the generators whose buckets hold both docs. A
    conv_id present on both sides (a session window can emit one twice)
    never pairs with itself: ``a < b`` strictly.

    ``buckets`` is the grouped bucket table BOTH outputs project from.
    The two outputs are separate actions at the caller (two table
    writes), and their filters push down differently, so WITHOUT help
    Spark plans the full explode->groupBy shuffle twice — verified:
    zero ReusedExchange in the physical plan. A caller writing both
    should ``buckets.persist()`` first and unpersist after (the
    pipeline does); Spark's cache manager rewrites both projections
    onto the cached table by plan-fragment equality.
    """
    # The generator tag is an INT id (0=lsh, 1=simhash, 2=substring):
    # narrower shuffle key (4 B vs an 8-11 B string) and cheaper
    # hashing/compare in the bucket groupBy; the key SPACE is unchanged
    # (the string gen mapped 1:1 to g), so bucket membership — and
    # therefore the candidate set — is identical. (A single-pass
    # variant building one concat'd array of (g,k1,k2) structs measured
    # SLOWER: the struct-building transform() HOFs are interpreted per
    # element, while these posexplodes over codegen'd int arrays are
    # not.)
    # Only the simhash generator's buckets ever READ the carried
    # fingerprint (the Hamming post-filter guards on g == 1), so the
    # lsh/substring key streams ship a NULL instead — ~8 B saved on
    # ~90% of the keyed rows feeding the bucket shuffle (the pipeline's
    # biggest shuffle byte line at 600k base), with bucket contents and
    # pair output untouched (conv_ids are unique within a bucket, so
    # simhash never tie-breaks the member sort).
    null_sim = F.lit(None).cast("long").alias("simhash")
    carry = ["is_new"] if "is_new" in signatures.columns else []
    lsh_keys = signatures.select(
        "conv_id",
        *carry,
        F.posexplode(lsh_band_keys("minhash", lsh_cfg)).alias("k1", "k2"),
    ).select("conv_id", null_sim, F.lit(0).alias("g"), "k1", "k2", *carry)
    blocks = sim_cfg.hamming_k + 1
    width = sim_cfg.bits // blocks
    block_mask = (1 << width) - 1
    sim_keys = signatures.select(
        "conv_id", F.col("simhash"), *carry,
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(
                        F.col("simhash"), i * width
                    ).bitwiseAND(F.lit(block_mask)).cast("int")
                    for i in range(blocks)
                ]
            )
        ).alias("k1", "simk"),
    ).select(
        "conv_id", "simhash", F.lit(1).alias("g"),
        "k1", F.col("simk").cast("int").alias("k2"), *carry,
    )
    anchor_keys = signatures.select(
        "conv_id",
        *carry,
        F.explode("anchors").alias("anchor"),
    ).select(
        "conv_id", null_sim, F.lit(2).alias("g"),
        F.lit(0).alias("k1"),
        F.hash("anchor").alias("k2"),
        *carry,
    )
    keyed = lsh_keys.unionByName(sim_keys).unionByName(anchor_keys)
    if carry:
        # delta form: keep the buckets the batch touches, old members
        # included. No broadcast hint: a large batch's keys need not
        # fit one, and AQE converts the join when they do.
        keyed = keyed.join(
            keyed.where("is_new").select("g", "k1", "k2"),
            ["g", "k1", "k2"],
            "left_semi",
        )

    sized = keyed.groupBy("g", "k1", "k2").agg(
        F.collect_list(F.struct("conv_id", "simhash", *carry)).alias(
            "members"
        ),
        F.count("*").alias("sz"),
    )
    # both outputs only look at multi-member buckets; filtering BEFORE
    # the persist point keeps the cache ~100x smaller (singleton
    # buckets are the overwhelming majority of keys on a deduplicated
    # corpus)
    multi = sized.where(F.col("sz") >= 2)
    ok = multi.where(F.col("sz") <= lsh_cfg.max_bucket_size)
    dropped = multi.where(F.col("sz") > lsh_cfg.max_bucket_size).select(
        F.when(F.col("g") == 0, F.lit("lsh"))
        .when(F.col("g") == 1, F.lit("simhash"))
        .otherwise(F.lit("substring"))
        .alias("generator"),
        "sz",
    )
    m = F.array_sort("members")
    hamming_k = sim_cfg.hamming_k

    # Enumerate each bucket's pairs ENTIRELY array-side (nested
    # transform/filter higher-order functions), so only pairs that pass
    # the SimHash Hamming post-filter ever materialize as rows. The old
    # shape (posexplode members carrying the full bucket array, slice +
    # explode, then a row-level Hamming .where) copied the bucket array
    # into every member's UnsafeRow (a capped 2000-member bucket ≈
    # 2000 x ~60 KB of memcpy) and materialized every ENUMERATED pair
    # as a row before filtering — 26.3M enumerated vs 2.64M passing at
    # the sf1.0 bench (50k docs). Here the Hamming xor/bit_count runs
    # inside the codegen'd array loop and failing pairs are dropped
    # in-place. Worst-case row width is bounded by the bucket cap:
    # C(max_bucket_size, 2) pair structs ≈ 60 MB at the default 2000 —
    # only reached if an entire capped bucket is mutually within
    # Hamming k.
    def _bucket_pairs(mcol):
        def inner(l, i):
            def keep(r, j):
                ok = (j > i) & (
                    (F.col("g") != F.lit(1))
                    | (
                        F.bit_count(
                            l["simhash"].bitwiseXOR(r["simhash"])
                        )
                        <= hamming_k
                    )
                )
                if carry:
                    # members sort by conv_id, so != makes a < b strict
                    ok = (
                        ok
                        & (l["conv_id"] != r["conv_id"])
                        & (l["is_new"] | r["is_new"])
                    )
                return ok

            return F.transform(
                F.filter(mcol, keep),
                lambda r: F.struct(
                    l["conv_id"].alias("a"), r["conv_id"].alias("b")
                ),
            )

        return F.flatten(F.transform(mcol, inner))

    # Per-pair source attribution as a BIT MASK instead of
    # collect_set(string): bit_or is a declarative aggregate (plain long
    # buffer, partial/map-side combine) where collect_set forces
    # ObjectHashAggregate with per-group object buffers — measurably
    # cheaper at millions of pairs. The sorted sources array is
    # reconstructed natively from the mask: slice(array(x), 1, bit)
    # yields [] or [x], and concatenating in alphabetical generator
    # order ("lsh" < "simhash" < "substring") reproduces
    # array_sort(collect_set(source)) exactly.
    src_bit = F.expr("shiftleft(1, g)")
    mask = F.col("mask")
    sources = F.concat(
        F.slice(F.array(F.lit("lsh")), 1, mask.bitwiseAND(1)),
        F.slice(
            F.array(F.lit("simhash")), 1, F.shiftright(mask, 1).bitwiseAND(1)
        ),
        F.slice(
            F.array(F.lit("substring")),
            1,
            F.shiftright(mask, 2).bitwiseAND(1),
        ),
    )
    pairs = (
        ok.select("g", m.alias("ms"))
        .select("g", F.explode(_bucket_pairs(F.col("ms"))).alias("p"))
        .select(
            F.col("p.a").alias("a"),
            F.col("p.b").alias("b"),
            src_bit.alias("src"),
        )
        .groupBy("a", "b")
        .agg(F.bit_or("src").alias("mask"))
        .select("a", "b", sources.alias("sources"))
    )
    return pairs, dropped, multi
