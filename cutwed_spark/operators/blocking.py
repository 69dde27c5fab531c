"""Blocking: MinHash/LSH over turn-text shingles + exact tool-sequence
and turn-text signatures -> deduped candidate pairs.

The reference computes ALL pairs (the nAA x nBB loop in
/root/reference/src/cuTWED_core.h:583-620) because batches are small;
at 10^12-turn scale all-pairs is impossible, so blocking bounds the
candidate set. One algorithm enumerates pairs for both the batch
pipeline and the streaming microbatch (``block_pairs``): a bounded
``groupBy(block_key)`` collects each block's members and explodes them
into pairs. The reference's triangular dedup (the TRIL enum of its
cuTWED.h) becomes the ``a < b`` predicate on the exploded members — no
triangle is ever materialized.

Everything here is Catalyst built-ins (xxhash64, higher-order functions,
windows, aggregates): map-side partial aggregation computes the k
minhash mins per conversation, and oversized blocks (non-discriminative
"stopword" keys — the skew hazard, SURVEY.md §7 hard part 4) are
dropped with the drop surfaced as a metric, never silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

DEFAULT_NUM_HASHES = 32
DEFAULT_BAND_SIZE = 2
DEFAULT_SHINGLE_K = 3
DEFAULT_MAX_BLOCK = 64

# Bump when the signature hash family changes (shingle base hash or
# member derivation): signatures from different families NEVER collide
# in LSH bands, so persisted state from another version must be rebuilt,
# not silently unioned (streaming/state.py enforces this).
# v2 = word-hash-mix shingle base (was v1: string shingles).
SIGNATURE_FAMILY_VERSION = 2


def word_hash_col(text: str = "text"):
    """array<bigint>: xxhash64 of each lower-cased whitespace token —
    every word is hashed exactly ONCE; all shingle/minhash machinery
    downstream works on these fixed-width bigints. NULL text coerces to
    the empty array (NOT a null array): a null would propagate through
    the member-min folds and defeat the empty-conversation sentinel."""
    words = F.filter(
        F.split(F.lower(F.coalesce(F.col(text), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    return F.transform(words, lambda w: F.xxhash64(w))


def shingle_hashes_from_word_hashes(wh, k: int = DEFAULT_SHINGLE_K):
    """array<bigint> word hashes -> array<bigint> k-gram shingle hashes.

    A shingle's base hash is xxhash64 of its k word hashes — shingle
    STRINGS are never built (concat_ws + re-hashing the string was a
    large share of signature cost; hashing k bigints is several times
    cheaper). Turns shorter than k words contribute one whole-turn
    hash (a shift-xor fold of their word hashes) so no turn is
    invisible to blocking; empty turns contribute nothing (empty
    array), preserving the all-empty-conversation null-signature
    sentinel downstream.
    """
    if k == 1:
        return wh
    whole = F.xxhash64(
        F.aggregate(
            wh,
            F.lit(0).cast("bigint"),
            lambda a, b: F.shiftleft(a, 1).bitwiseXOR(b),
        )
    )
    return (
        F.when(
            F.size(wh) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(wh) - k),
                lambda i: F.xxhash64(
                    *[F.element_at(wh, i + j + 1) for j in range(k)]
                ),
            ),
        )
        .when(F.size(wh) > 0, F.array(whole))
        .otherwise(F.array().cast("array<bigint>"))
    )


_LONG_MAX = (1 << 63) - 1


def per_turn_member_mins(shb, num_hashes: int, prefix: str = "m") -> list:
    """num_hashes per-turn partial-min columns over an array<bigint> of
    shingle base hashes. Family member i of base hash b is
    xxhash64(b, i) (bigint re-hash — an independent family, cheap on
    fixed width). An empty array folds to the _LONG_MAX sentinel.

    Measured negative result (round 3): deriving members by double
    hashing (h1 + i*h2 from a materialized array<struct<h1,h2>>, one
    xxhash64 per element instead of num_hashes) is ~1.7x SLOWER than
    these folds at num_hashes=40 — fixed-width xxhash64 is cheap in
    codegen and the struct-array materialization + per-element field
    extraction dominates. The fold cost is traversal, not hashing;
    don't "optimize" the hash count.

    Second negative result (round 4): merging the num_hashes folds into
    ONE traversal with a num_hashes-wide struct accumulator (least +
    xxhash64 per field per element, fields extracted from a staged
    column) measures IDENTICAL to these separate folds (30.6 vs 31.0 s
    best-of-3 interleaved on the 100k assemble subtree) with
    bit-identical mins — per-element arithmetic dominates, not
    per-array traversal count. Keep the simpler separate folds."""

    def _merge(i):
        return lambda acc, b: F.least(acc, F.xxhash64(b, F.lit(i)))

    return [
        F.aggregate(shb, F.lit(_LONG_MAX), _merge(i)).alias(f"{prefix}{i}")
        for i in range(num_hashes)
    ]


def signature_from_mins(prefix: str, num_hashes: int):
    """min-of-per-turn-mins columns h{i} -> nullable sig array column.
    A conversation whose every turn is empty has no shingles at all;
    its sentinel-only signature would LSH-collide with every other
    empty conversation — exactly the non-discriminative block the size
    cap would drop anyway, so null it out here. A NULL min (possible
    only if every per-turn fold was NULL) is treated like the sentinel:
    a bare == comparison would evaluate to NULL and fall through to
    otherwise(), emitting an array of NULLs that all degenerate
    conversations share as a block key."""
    sig = F.array(*[F.col(f"{prefix}{i}") for i in range(num_hashes)])
    first = F.col(f"{prefix}0")
    return F.when(
        first.isNull() | (first == F.lit(_LONG_MAX)), F.lit(None)
    ).otherwise(sig)


def lsh_block_keys(
    signatures: DataFrame,
    band_size: int = DEFAULT_BAND_SIZE,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """-> (conv_id, block_key: bigint): one row per LSH band.

    band key = xxhash64(band_id, sig values in the band); band_id is
    mixed in so identical mins in different bands cannot collide.
    """
    n_bands = num_hashes // band_size
    bands = [
        F.xxhash64(
            F.lit(b), *[F.col("sig")[b * band_size + r] for r in range(band_size)]
        ).alias("block_key")
        for b in range(n_bands)
    ]
    return signatures.select(
        "conv_id", F.explode(F.array(*bands)).alias("block_key")
    )


def with_signatures(
    transcripts: DataFrame,
    series: DataFrame,
    num_hashes: int = DEFAULT_NUM_HASHES,
    shingle_k: int = DEFAULT_SHINGLE_K,
    word_num_hashes: int = 8,
    short_conv_turns: int = 8,
) -> DataFrame:
    """series + ``sig`` (k-gram minhash) + ``wsig`` (word minhash, short
    conversations only, else null) — the blocking STATE columns.

    Persisting these alongside the series makes blocking derivable from
    state alone: the streaming/incremental path never re-reads old
    transcripts, and the batch path computes each signature exactly once.

    ONE aggregation tree: words are hashed once per turn; k-gram and
    word-level member mins fold in the same projection and aggregate in
    the same groupBy (k-gram + word mins together), so the transcripts
    are scanned once and there is a single join onto series. The
    word-level signature is computed for every conversation but kept
    only for short ones (< short_conv_turns): word vocabularies collide
    heavily across same-domain conversations, so the word axis is a
    recall aid for conversations whose k-gram shingle sets are too
    small to survive banding — for long conversations it would only
    create non-discriminative mega-blocks.
    """
    # Materialize wh/shb as aliased columns in separate projections
    # before the folds reference them — HOF lambdas are excluded from
    # common-subexpression elimination, so inlining the expressions
    # would recompute the word split + hashing once per member (see
    # assemble.assemble_with_signatures for the measured impact).
    hashed = transcripts.select(
        "conv_id", word_hash_col().alias("wh")
    ).select(
        "conv_id",
        "wh",
        shingle_hashes_from_word_hashes(F.col("wh"), shingle_k).alias("shb"),
    )
    per_turn = hashed.select(
        "conv_id",
        *per_turn_member_mins(F.col("shb"), num_hashes, "m"),
        *per_turn_member_mins(F.col("wh"), word_num_hashes, "w"),
    )
    agg = per_turn.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("_n_turns_raw"),
        *[F.min(f"m{i}").alias(f"hm{i}") for i in range(num_hashes)],
        *[F.min(f"w{i}").alias(f"hw{i}") for i in range(word_num_hashes)],
    )
    sigs = agg.select(
        "conv_id",
        signature_from_mins("hm", num_hashes).alias("sig"),
        F.when(
            F.col("_n_turns_raw") < F.lit(short_conv_turns),
            signature_from_mins("hw", word_num_hashes),
        ).alias("wsig"),
    )
    return series.join(sigs, "conv_id", "left")


def block_keys_from_state(
    state: DataFrame,
    band_size: int = DEFAULT_BAND_SIZE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    word_num_hashes: int = 8,
) -> DataFrame:
    """All four blocking axes derived purely from the state table
    (conv_id, sig, wsig, tool_sig, text_hashes):

    1. k-gram minhash LSH bands (sig),
    2. word minhash single-row bands (wsig; short conversations),
    3. exact tool-sequence signature,
    4. exact per-turn text fingerprint (text_hashes).
    """
    lsh = lsh_block_keys(state.where(F.col("sig").isNotNull()), band_size, num_hashes)
    wbands = [
        F.xxhash64(F.lit("wordmh"), F.lit(b), F.col("wsig")[b]).alias("bk")
        for b in range(word_num_hashes)
    ]
    wlsh = (
        state.where(F.col("wsig").isNotNull())
        .select("conv_id", F.explode(F.array(*wbands)).alias("block_key"))
    )
    tool = state.where(F.col("tool_sig") != "").select(
        "conv_id", F.xxhash64(F.lit("toolsig"), F.col("tool_sig")).alias("block_key")
    )
    ttext = state.select(
        "conv_id",
        F.explode_outer(F.col("text_hashes")).alias("th"),
    ).select(
        "conv_id", F.xxhash64(F.lit("turntext"), F.col("th")).alias("block_key")
    ).where(F.col("block_key").isNotNull()).dropDuplicates(["conv_id", "block_key"])
    return lsh.unionByName(wlsh).unionByName(tool).unionByName(ttext)


def length_filter_pairs(
    pairs: DataFrame, state: DataFrame, length_ratio_max: float
) -> DataFrame:
    """Comparison-cleaning filter (meta-blocking style): drop candidate
    pairs whose turn counts differ by more than ``length_ratio_max``
    (longer/shorter). TWED's delete chain makes a pair with wildly
    different lengths score far from any match threshold, so these
    pairs are guaranteed non-matches for any calibrated threshold well
    below the delete-everything cost — pruning them BEFORE scoring
    avoids shipping their array payloads through the attach join and
    the Arrow boundary entirely (the expensive bytes at 100 TB).

    The filter joins only compact columns (conv_id, n_turns) against
    the slim pair list — two cheap shuffles replacing the pruned
    pairs' full series transfer. Opt-in via
    ``PipelineConfig.length_ratio_max``; OFF by default so the scored
    universe (and the committed goldens) are unchanged unless asked.
    """
    if length_ratio_max < 1.0:
        raise ValueError(
            f"length_ratio_max must be >= 1 (longer/shorter), "
            f"got {length_ratio_max}"
        )
    n = state.select("conv_id", "n_turns")
    a = n.select(F.col("conv_id").alias("conv_id_a"), F.col("n_turns").alias("_na"))
    b = n.select(F.col("conv_id").alias("conv_id_b"), F.col("n_turns").alias("_nb"))
    return (
        pairs.join(a, "conv_id_a")
        .join(b, "conv_id_b")
        .where(
            F.greatest("_na", "_nb")
            <= F.least("_na", "_nb") * F.lit(float(length_ratio_max))
        )
        .select(pairs.columns)
    )


def block_pairs(
    keys: DataFrame, max_block: int = DEFAULT_MAX_BLOCK
) -> tuple[DataFrame, DataFrame]:
    """(conv_id, block_key, is_new) rows -> (pairs, block_stats).

    The one pair-enumeration algorithm. The batch pipeline tags every
    key ``is_new``; a streaming microbatch tags its own keys ``is_new``
    and the index rows of the blocks it touches ``is_new=false``, so
    old-x-old pairs are never enumerated. The plan is one shuffle by
    block key:

    1. membership bound: per block, only the ``max_block + 1`` smallest
       DISTINCT conv_ids survive (a ``dense_rank`` filter, planned as a
       ``WindowGroupLimit`` on both sides of the shuffle while
       ``max_block + 1`` is within Spark's
       ``spark.sql.optimizer.windowGroupLimitThreshold``, 1000 by
       default), so a huge boilerplate block never becomes one giant
       array;
    2. one ``groupBy(block_key)`` collects ``members`` and
       ``new_members`` as sets;
    3. blocks with 2..``max_block`` members explode
       ``new_members x members`` into pairs: ``a < b`` when both are
       new (the reference's TRIL dedup), any old ``b`` otherwise;
       pairs are oriented with least/greatest and deduplicated
       (multi-block hits collapse).

    ``block_stats`` is one row from the same grouped rows: ``n_blocks``
    (distinct keys), ``n_dropped_blocks`` (blocks over ``max_block``
    members) and ``est_candidate_pairs`` (s*(s-1)/2 summed over kept
    blocks, before the cross-block dedup). All three are exact; the
    true size of a dropped block is never computed. Block size counts
    DISTINCT conv_ids, so duplicated key rows (a replayed microbatch)
    cannot push a block past ``max_block``.
    """
    member_rank = F.dense_rank().over(
        Window.partitionBy("block_key").orderBy("conv_id")
    )
    blocks = (
        keys.withColumn("member_rank", member_rank)
        .where(F.col("member_rank") <= max_block + 1)
        .groupBy("block_key")
        .agg(
            F.collect_set("conv_id").alias("members"),
            F.collect_set(F.when(F.col("is_new"), F.col("conv_id"))).alias(
                "new_members"
            ),
        )
    )
    size = F.size("members")
    stats = blocks.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(size > max_block, 1).otherwise(0)).alias("n_dropped_blocks"),
        F.sum(F.when(size <= max_block, size * (size - 1) / 2).otherwise(0))
        .cast("long")
        .alias("est_candidate_pairs"),
    )
    # Partners of a new member a: the new members above it, plus every
    # old member (array_except also drops a conv_id that is both old and
    # new, i.e. replayed, so a never pairs with itself).
    pairs = (
        blocks.where(size.between(2, max_block))
        .select(
            F.explode("new_members").alias("a"),
            "new_members",
            F.array_except("members", "new_members").alias("old_members"),
        )
        .select(
            "a",
            F.explode(
                F.concat(
                    F.filter("new_members", lambda b: b > F.col("a")),
                    "old_members",
                )
            ).alias("b"),
        )
        .select(
            F.least("a", "b").alias("conv_id_a"),
            F.greatest("a", "b").alias("conv_id_b"),
        )
        .dropDuplicates(["conv_id_a", "conv_id_b"])
    )
    return pairs, stats


def build_candidate_pairs_from_state(
    state: DataFrame,
    band_size: int = DEFAULT_BAND_SIZE,
    num_hashes: int = DEFAULT_NUM_HASHES,
    max_block: int = DEFAULT_MAX_BLOCK,
    length_ratio_max: float | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Blocking from the signature-carrying state table
    -> (pairs, block_stats): every block key is new, so ``block_pairs``
    enumerates all in-block pairs once; the opt-in length filter
    follows."""
    keys = block_keys_from_state(state, band_size, num_hashes).withColumn(
        "is_new", F.lit(True)
    )
    pairs, stats = block_pairs(keys, max_block)
    if length_ratio_max is not None:
        pairs = length_filter_pairs(pairs, state, length_ratio_max)
    return pairs, stats
