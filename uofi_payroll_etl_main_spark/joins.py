"""Broadcast left-join suite + fan-out guard (SURVEY.md section 2.3,
J1-J9; V1).

Every reference join is a left equi join of a big fact against a small,
deduplicated dimension projection (etl_payroll_pipeline.py :263-295,
:487-540).  The Spark-first shape is therefore: dedup the dim projection,
`F.broadcast` it, and left-join -- the fact side never shuffles, which is
the difference between O(fact) scan and O(fact) shuffle at 100 TB.

The fan-out guard (`safe_merge_left`, ref :226-232) has two modes:
  * mode="dim-unique" (default, scale-safe): assert key uniqueness on the
    DIMENSION side only -- O(|dim|) work, no second pass over the fact.
    A unique dim key *proves* a left join cannot change the fact rowcount,
    which is exactly the invariant the reference's before/after count
    check observes.
  * mode="count" (reference parity): literally count the fact before and
    after.  Two extra fact-scale actions; only for small-data parity runs.
"""

from __future__ import annotations

import warnings
from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from uofi_payroll_etl_main_spark import expressions as E

__all__ = [
    "broadcast_left_join",
    "safe_merge_left",
    "dict_map_join",
    "salted_left_join",
    "write_bucketed",
    "asof_join_backward",
    "asof_join_forward",
    "asof_join_nearest",
    "interval_join",
    "bloom_filter_build",
    "bloom_probe",
    "bloom_semi_join",
    "band_join",
    "FanOutWarning",
    "spatial_radius_join",
    "point_in_polygon",
    "point_in_polygon_sql",
]


class FanOutWarning(UserWarning):
    """Raised as a warning when a left join fans out the fact side (V1)."""


def _dim_prep(dim: DataFrame, keep_cols: Sequence[str] | None, dedup: bool) -> DataFrame:
    """Project + dedup the dimension (ref drop_duplicates on the projected
    lookup, e.g. :263, :266, :276) -- D1 applied at the join edge."""
    if keep_cols is not None:
        dim = dim.select(*keep_cols)
    if dedup:
        dim = dim.dropDuplicates()
    return dim


def _dim_keys(on: str | Sequence[str] | Mapping[str, str]) -> list[str]:
    """The dimension-side key columns of a join's `on`, in any of the
    three forms `broadcast_left_join` documents."""
    if isinstance(on, str):
        return [on]
    if isinstance(on, Mapping):
        return list(on.values())
    return list(on)


def broadcast_left_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str] | Mapping[str, str],
    keep_cols: Sequence[str] | None = None,
    dedup_dim: bool = True,
    rename: Mapping[str, str] | None = None,
    drop_dim_keys: bool = False,
) -> DataFrame:
    """J1-J3 / J5-J8 -- left equi join against a broadcast dim projection.

    `on` forms:
      * "key"                     -- same name both sides (J1/J5: :263-264)
      * ["k1", "k2"]              -- composite same-named keys
      * {"fact_key": "dim_key"}   -- differing names (J2/J6: :266-272), incl.
        composite {"JOB_ECLS": "Job Eclass", "PAY_ID": "Pay ID"} (J8 :535-540)

    With a mapping, the dim-side key columns are dropped after the join
    when drop_dim_keys (ref :279 drops 'Job Eclass' post-merge); `rename`
    applies dim-column renames after the join (ref :278, :492, :500).
    """
    dim = _dim_prep(dim, keep_cols, dedup_dim)
    if isinstance(on, Mapping):
        cond = reduce(lambda a, b: a & b, [fact[fk] == dim[dk] for fk, dk in on.items()])
    else:  # same-named keys: a USING join keeps one copy of each
        cond = _dim_keys(on)
    out = fact.join(F.broadcast(dim), cond, "left")
    if drop_dim_keys and isinstance(on, Mapping):
        out = out.drop(*[dim[k] for k in _dim_keys(on)])
    if rename:
        out = out.withColumnsRenamed(dict(rename))
    return out


def safe_merge_left(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str] | Mapping[str, str],
    keep_cols: Sequence[str] | None = None,
    dedup_dim: bool = True,
    mode: str = "dim-unique",
    rename: Mapping[str, str] | None = None,
    drop_dim_keys: bool = False,
) -> DataFrame:
    """J4/V1 -- guarded left join (ref `safe_merge_left` :226-232).

    Reference behavior is warn-don't-fail; we keep that (warnings.warn)
    so pipelines continue like the pandas original.
    """
    dimp = _dim_prep(dim, keep_cols, dedup_dim)
    dim_key_cols = _dim_keys(on)
    if mode == "dim-unique":
        dup = (
            dimp.groupBy(*dim_key_cols)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            warnings.warn(
                f"left join on {dim_key_cols} may fan out: dimension key not unique",
                FanOutWarning,
                stacklevel=2,
            )
        return broadcast_left_join(
            fact, dimp, on, None, False, rename=rename, drop_dim_keys=drop_dim_keys
        )

    before = fact.count()
    out = broadcast_left_join(
        fact, dimp, on, None, False, rename=rename, drop_dim_keys=drop_dim_keys
    )
    after = out.count()
    if before != after:
        warnings.warn(
            f"row count changed during merge: {before} -> {after}", FanOutWarning, stacklevel=2
        )
    return out


def dict_map_join(
    fact: DataFrame,
    lookup: DataFrame,
    key: str,
    value_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """J9 -- the reference's dict-map (`Series.map(te_map)` :295, :529)
    re-expressed as a broadcast left join against the aggregated lookup.

    `lookup` is expected to already be one-row-per-key (e.g. the output of
    aggregates.mode_agg).  A literal create_map would put data in the
    plan; a broadcast join keeps it in the engine and scales to lookups
    of any size.
    """
    out_col = out_col or value_col
    lk = lookup.select(F.col(key), F.col(value_col).alias(out_col)).dropDuplicates([key])
    return fact.join(F.broadcast(lk), key, "left")


def salted_left_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    salt: int = 8,
    how: str = "left",
) -> DataFrame:
    """Skew-mitigated equi join for the case AQE can't fix: a HOT KEY on
    the fact side joining a dim too large to broadcast.  Only left/inner
    are sound: the dim side is replicated `salt` ways, so right/full
    would emit unmatched dim rows once per replica.

    The fact side gets a random-salt suffix (key, salt_i); the dim side
    is replicated `salt` ways -- so one hot key's rows spread over `salt`
    reduce partitions instead of one straggler.  Use AQE skew-join first
    (on in session.py); reach for explicit salting when a single key
    exceeds what one executor can hold.  `salt` multiplies dim shuffle
    volume -- keep it at the straggler ratio, not higher.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"salted_left_join supports how='left'|'inner', got {how!r}")
    salt_col = "__salt"
    f = fact.withColumn(salt_col, F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)))
    d = dim.withColumn(
        salt_col, F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<bigint>"))
    )
    out = f.join(d, [on, salt_col], how)
    return out.drop(salt_col)


def write_bucketed(
    df: DataFrame, table: str, keys: Sequence[str], n_buckets: int = 32
) -> None:
    """Persist as a bucketed table: co-locates rows by hash(keys) at
    WRITE time, so later fact-fact equi joins on `keys` read both sides
    pre-partitioned -- no Exchange before the join (the 100 TB answer
    for repeated big-big joins, e.g. lineitem x orders every run).

    Requires a table catalog (saveAsTable); plain parquet files cannot
    carry bucket metadata.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .format("parquet")
        .saveAsTable(table)
    )


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    by: str,
    ts: str,
    value_cols: Sequence[str],
    right_ts_alias: str = "matched_ts",
) -> DataFrame:
    """As-of join (backward): for each left row, the latest right row
    with ``right.ts <= left.ts`` within the same `by` group.

    Spark-first shape: tag + UNION both sides, then one window pass per
    `by` group ordered by (ts, side) taking the running last right
    value -- a single shuffle on the group key, O(n log n) in the sort.
    The naive inequality join is a range join (quadratic per group);
    this form is the one that survives dense groups at 100 TB.

    Left rows with no prior right row keep nulls (left-join parity with
    DuckDB ASOF JOIN).
    """
    from pyspark.sql import Window

    lt = left.withColumn("__side", F.lit(1))
    rt = (
        right.select(
            F.col(by),
            F.col(ts),
            *[F.col(c) for c in value_cols],
        )
        .withColumn("__side", F.lit(0))
    )
    # union by name with missing columns: left's payload is absent on the
    # right side and vice versa
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    # right rows sort BEFORE left rows at equal ts => ties match (<=)
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(ts).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Fill ONE struct per row: the matched timestamp and its values must
    # come from the SAME right row.  Per-column ignorenulls fills would
    # skip a NULL payload on the latest right row and stitch together a
    # row that never existed (ts from row N, value from row N-1).
    packed = F.struct(F.col(ts).alias("__ts"), *[F.col(c).alias(c) for c in value_cols])
    filled = unioned.withColumn(
        "__match",
        F.last(F.when(F.col("__side") == 0, packed), ignorenulls=True).over(w),
    )
    out = filled.filter(F.col("__side") == 1).withColumn(
        right_ts_alias, F.col("__match.__ts")
    )
    for c in value_cols:
        out = out.withColumn(c, F.col(f"__match.{c}"))
    return out.drop("__side", "__match")


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    by: str,
    ts: str,
    value_cols: Sequence[str],
    right_ts_alias: str = "matched_ts",
) -> DataFrame:
    """As-of join (forward): for each left row, the EARLIEST right row
    with ``right.ts >= left.ts`` within the same `by` group -- the
    "next event" lookup (next price tick, next scheduled job).

    Mirror of `asof_join_backward`: one union + one window pass per
    group ordered by ts DESC (right rows first at equal ts so ties
    match the >= contract), running-last struct fill.  Single shuffle
    on the group key; no range join.
    """
    from pyspark.sql import Window

    lt = left.withColumn("__side", F.lit(1))
    rt = (
        right.select(F.col(by), F.col(ts), *[F.col(c) for c in value_cols])
        .withColumn("__side", F.lit(0))
    )
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    # ts DESC: the running last right row seen at-or-after the current
    # left row is the one with the SMALLEST ts >= left.ts; right rows
    # sort before left rows at equal ts so simultaneous rows match
    w = (
        Window.partitionBy(by)
        .orderBy(F.col(ts).desc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = F.struct(F.col(ts).alias("__ts"), *[F.col(c).alias(c) for c in value_cols])
    filled = unioned.withColumn(
        "__match",
        F.last(F.when(F.col("__side") == 0, packed), ignorenulls=True).over(w),
    )
    out = filled.filter(F.col("__side") == 1).withColumn(
        right_ts_alias, F.col("__match.__ts")
    )
    for c in value_cols:
        out = out.withColumn(c, F.col(f"__match.{c}"))
    return out.drop("__side", "__match")


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    by: str,
    ts: str,
    value_cols: Sequence[str],
    right_ts_alias: str = "matched_ts",
) -> DataFrame:
    """As-of join (nearest): the right row closest in time in EITHER
    direction; ties (equidistant prior and next) resolve to the PRIOR
    row, matching the common "nearest, prefer past" convention.

    One union, ONE shuffle: both directional fills are windows over the
    same partition key, so Catalyst plans a single exchange with two
    sorts.  The winner is chosen per row from the two packed structs by
    comparing epoch-microsecond distances (TIMESTAMP_NTZ-safe via the
    shared normalizing helper).
    """
    from pyspark.sql import Window

    lt = left.withColumn("__side", F.lit(1))
    rt = (
        right.select(F.col(by), F.col(ts), *[F.col(c) for c in value_cols])
        .withColumn("__side", F.lit(0))
    )
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    packed = F.struct(F.col(ts).alias("__ts"), *[F.col(c).alias(c) for c in value_cols])
    right_only = F.when(F.col("__side") == 0, packed)
    wb = (
        Window.partitionBy(by)
        .orderBy(F.col(ts).asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(by)
        .orderBy(F.col(ts).desc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.withColumn(
        "__bwd", F.last(right_only, ignorenulls=True).over(wb)
    ).withColumn("__fwd", F.last(right_only, ignorenulls=True).over(wf))
    here = E.epoch_micros(F.col(ts))
    d_bwd = here - E.epoch_micros(F.col("__bwd.__ts"))
    d_fwd = E.epoch_micros(F.col("__fwd.__ts")) - here
    take_bwd = F.col("__bwd").isNotNull() & (
        F.col("__fwd").isNull() | (d_bwd <= d_fwd)
    )
    out = (
        filled.filter(F.col("__side") == 1)
        .withColumn("__match", F.when(take_bwd, F.col("__bwd")).otherwise(F.col("__fwd")))
        .withColumn(right_ts_alias, F.col("__match.__ts"))
    )
    for c in value_cols:
        out = out.withColumn(c, F.col(f"__match.{c}"))
    return out.drop("__side", "__bwd", "__fwd", "__match")


def interval_join(
    events: DataFrame,
    intervals: DataFrame,
    ts_col: str,
    start_col: str,
    end_col: str,
    keys: Sequence[str] | None = None,
    bucket_seconds: int = 600,
) -> DataFrame:
    """Batch range/interval join: match each event row to every interval
    row with start <= ts < end (plus optional equi-keys), WITHOUT the
    O(N*M) theta-join Spark would otherwise plan (an un-hinted
    `ts BETWEEN start AND end` condition degenerates to
    BroadcastNestedLoopJoin / cartesian at scale).

    Scale shape: time is quantized into `bucket_seconds` buckets; each
    event carries its single bucket, each interval explodes into the
    buckets it covers (fan-out = duration / bucket width -- pick a
    width near the typical interval length).  The join is then a plain
    equi shuffle join on (bucket, *keys) that AQE can size, followed by
    the exact range refinement.  Each (event, interval) pair meets in
    exactly one bucket (the event's own), so no post-join dedup is
    needed.
    """
    w_us = int(bucket_seconds) * 1_000_000
    keys = list(keys or [])
    ev = events.withColumn(
        "__bkt", F.floor(E.epoch_micros(ts_col) / F.lit(w_us))
    )
    iv = intervals.withColumn(
        "__bkt",
        F.explode(
            F.sequence(
                F.floor(E.epoch_micros(start_col) / F.lit(w_us)),
                F.floor((E.epoch_micros(end_col) - 1) / F.lit(w_us)),
            )
        ),
    )
    joined = ev.join(iv, ["__bkt", *keys], "inner").filter(
        (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    )
    return joined.drop("__bkt")


def _bloom_positions(key: F.Column, num_bits: int, num_hashes: int) -> F.Column:
    """array<long> of `num_hashes` bit positions for one key.

    Kirsch-Mitzenmacher double hashing (h1 + i*h2, same construction as
    the MinHash permutations in llm/dedup.py): two xxhash64 calls total,
    masked to 31 bits so the combined arithmetic stays far from long
    overflow under the driver's ANSI session.
    """
    mask = F.lit((1 << 31) - 1).cast("long")
    h1 = F.xxhash64(key).bitwiseAND(mask)
    h2 = F.xxhash64(key, F.lit(7)).bitwiseAND(mask)
    return F.array(
        *[F.pmod(h1 + F.lit(i + 1).cast("long") * h2, F.lit(num_bits).cast("long"))
          for i in range(num_hashes)]
    )


# Single-bit masks for positions 0..63 as SIGNED longs (bit 63 is the
# sign bit: -2^63).  A 64-element array literal sidesteps PySpark's
# shiftleft/shiftright, which only accept Python-int shift amounts.
_BIT_MASKS = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def _bit_mask(pos: F.Column) -> F.Column:
    """Mask long with only bit `pos % 64` set (codegen array lookup)."""
    return F.element_at(
        F.lit(_BIT_MASKS).cast("array<long>"), F.pmod(pos, F.lit(64)).cast("int") + F.lit(1)
    )


def bloom_filter_build(
    keys: DataFrame,
    key_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """Distributed Bloom filter over `keys[key_col]` as a SINGLE-ROW
    DataFrame `{__bloom: array<long>}` of `num_bits/64` words.

    Spark keeps `bloom_filter_agg` internal (not SQL-registered), so the
    filter is built from first principles with pure DataFrame ops:
    position explode -> per-word `bit_or` (map-side partial agg, the
    shuffle carries at most num_bits/64 rows) -> one map_from_entries /
    sequence projection that materializes the dense word array.  The
    result is ~num_bits/8 bytes regardless of key count -- broadcastable
    when the key SET itself is far too large to broadcast, which is the
    whole point at 100 TB.
    """
    nwords = (int(num_bits) + 63) // 64
    words = _bloom_words(keys, key_col, num_bits, num_hashes)
    # Dense assembly via zero-fill union + sort_array -- NOT a
    # map_from_entries/element_at transform: Catalyst map lookup is a
    # linear scan, so the map form is O(nwords^2) inside one row
    # (measured ~20s for 2^20 bits); this is O(nwords log nwords).
    spark = keys.sparkSession
    zeros = spark.range(nwords).select(
        F.col("id").alias("__w"), F.lit(0).cast("long").alias("__word")
    )
    return (
        words.unionByName(zeros)
        .groupBy("__w")
        .agg(F.bit_or("__word").alias("__word"))
        .groupBy()
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__w", "__word"))),
                lambda s: s["__word"],
            ).alias("__bloom")
        )
    )


def _bloom_words(
    keys: DataFrame, key_col: str, num_bits: int, num_hashes: int
) -> DataFrame:
    """Sparse (word-index, word) rows of the bloom bitmap: explode bit
    positions, fold per 64-bit word with bit_or (map-side partials; the
    shuffle carries at most num_bits/64 rows)."""
    pos = keys.select(
        F.explode(_bloom_positions(F.col(key_col), num_bits, num_hashes)).alias("__p")
    )
    return (
        pos.select(
            F.floor(F.col("__p") / F.lit(64)).alias("__w"),
            _bit_mask(F.col("__p")).alias("__b"),
        )
        .groupBy("__w")
        .agg(F.bit_or("__b").alias("__word"))
    )


def bloom_probe(
    key: F.Column, bitmap: F.Column, num_bits: int, num_hashes: int
) -> F.Column:
    """Boolean membership test of `key` against `bitmap` (an array<long>
    column or literal -- see bloom_semi_join).  Pure codegen: k word
    lookups + bit tests, no Python.

    The bitmap is referenced exactly ONCE, inside a `forall` lambda:
    an unrolled k-way AND embeds the (possibly 100-KiB) literal once
    per check, and constraint inference then copies those into every
    join side -- measured as a multi-MB plan whose OPTIMIZATION time
    dwarfed the query.  One reference keeps the plan small; the HOF
    interprets only k elements per row.
    """
    pos = _bloom_positions(key, num_bits, num_hashes)
    return F.forall(
        pos,
        lambda p: (
            F.element_at(bitmap, F.floor(p / F.lit(64)).cast("int") + F.lit(1))
            .bitwiseAND(_bit_mask(p))
            == _bit_mask(p)
        ),
    )


def bloom_semi_join(
    fact: DataFrame,
    keys: DataFrame,
    on: str | Mapping[str, str],
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    exact: bool = True,
) -> DataFrame:
    """J16 -- semi join of a huge fact against a large key set, with a
    Bloom-filter prune BEFORE the fact's shuffle.

    `fact SEMI JOIN keys` where the key set is too big to broadcast
    normally costs a full shuffle of BOTH sides.  Here the key set is
    compressed into a ~num_bits/8-byte bitmap (no false negatives) and
    inlined as an ARRAY LITERAL predicate on the fact scan -- so the
    exchange carries ~|matches| + fpp*|fact| rows instead of |fact|.
    The literal form is deliberate: attaching the bitmap as a
    broadcast single-row join lets Catalyst's join reordering float the
    probe ABOVE the exact semi join (observed), silently un-pruning the
    shuffle; a filter on the scan cannot be reordered away.  The build
    runs one bounded pre-pass job (collects exactly num_bits/64 longs,
    ~num_bits/8 bytes -- same driver-side contract as the IVF centroid
    collect).

    With `exact=True` (default) a real left-semi join then removes the
    false positives, making the result EXACTLY equal to the plain semi
    join (bloom never drops a true match); `exact=False` keeps the
    ~fpp overshoot for pure-prune pipelines.

    `on`: "key" (same name both sides) or {fact_col: keys_col}.
    """
    if isinstance(on, str):
        fact_key, keys_key = on, on
    else:
        (fact_key, keys_key), = on.items()
    nwords = (int(num_bits) + 63) // 64
    # collect the SPARSE words (<= nwords rows) and densify driver-side
    # -- cheaper than any single-row dense assembly in the engine
    arr = [0] * nwords
    for r in _bloom_words(keys, keys_key, num_bits, num_hashes).collect():
        arr[int(r["__w"])] = int(r["__word"])
    import numpy as np

    # ndarray literal: a single Literal(ArrayData) plan node; a Python
    # list would lower to CreateArray with nwords children
    bitmap = F.lit(np.array(arr, dtype=np.int64))
    pruned = fact.filter(bloom_probe(F.col(fact_key), bitmap, num_bits, num_hashes))
    if not exact:
        return pruned
    kd = keys.select(F.col(keys_key).alias("__k")).dropDuplicates()
    return pruned.join(kd, F.col(fact_key) == F.col("__k"), "left_semi")


def band_join(
    left: DataFrame,
    right: DataFrame,
    value_col: str,
    eps: float,
    keys: Sequence[str] | None = None,
    right_value_alias: str = "r_value",
) -> DataFrame:
    """J17 -- numeric band join: pairs with |left.v - right.v| <= eps
    (plus optional equi-keys), WITHOUT the quadratic theta join Spark
    would otherwise plan.

    Values quantize into buckets of width 2*eps; the right side
    replicates into its bucket +-1, the left keeps its single bucket,
    and the band condition refines after a plain equi shuffle join.
    Width 2*eps (not eps) leaves floating-point headroom: a true pair's
    bucket indices can then differ by at most 1 even at the exact
    boundary, so no pair is lost, and each surviving pair meets exactly
    once (at the left row's own bucket) -- no post-join dedup.
    """
    w = 2.0 * float(eps)
    keys = list(keys or [])
    lv = F.col(value_col)
    l2 = left.withColumn("__bkt", F.floor(lv / F.lit(w)))
    r2 = (
        right.withColumnRenamed(value_col, right_value_alias)
        .withColumn("__b0", F.floor(F.col(right_value_alias) / F.lit(w)))
        .withColumn(
            "__bkt", F.explode(F.array(F.col("__b0") - 1, F.col("__b0"), F.col("__b0") + 1))
        )
        .drop("__b0")
    )
    joined = l2.join(r2, ["__bkt", *keys], "inner").filter(
        F.abs(F.col(value_col) - F.col(right_value_alias)) <= F.lit(float(eps))
    )
    return joined.drop("__bkt")


def linkage_pairs(
    df: DataFrame,
    block_on: str,
    id_col: str,
    exact_fields: "Sequence[str]" = (),
    band_fields: "Sequence[tuple[str, float]]" = (),
    agree_w: float = 1.0,
    disagree_w: float = -0.5,
    threshold: float = 1.5,
) -> DataFrame:
    """Blocked record-linkage scoring (Fellegi-Sunter shape): candidate
    pairs meet only inside a blocking-key equi-join (never the n^2
    space); each field contributes `agree_w` on agreement (null-safe
    equality for exact fields, |a-b| <= band for numeric fields) and
    `disagree_w` otherwise; pairs scoring >= threshold survive.

    Self-linkage over one frame, a < b dedup.  At scale the shuffle key
    is the blocking key, so block-size skew is the tuning knob: block
    on a composite (e.g. region + name-prefix) to keep the per-block
    quadratic term bounded, exactly like the shingle-df guard in the
    text near-dup family.  Per-field agreement flags are returned for
    audit/active-learning triage.
    """
    cols = [id_col, block_on, *exact_fields, *[f for f, _ in band_fields]]
    a = df.select([F.col(c).alias(f"a_{c}") for c in cols])
    b = df.select([F.col(c).alias(f"b_{c}") for c in cols])
    pairs = a.join(
        b,
        (F.col(f"a_{block_on}") == F.col(f"b_{block_on}"))
        & (F.col(f"a_{id_col}") < F.col(f"b_{id_col}")),
    )
    score = F.lit(0.0)
    out_flags = []
    for f in exact_fields:
        agree = F.col(f"a_{f}").eqNullSafe(F.col(f"b_{f}"))
        score = score + F.when(agree, F.lit(float(agree_w))).otherwise(
            F.lit(float(disagree_w))
        )
        out_flags.append(agree.alias(f"agree_{f}"))
    for f, band in band_fields:
        agree = (
            F.col(f"a_{f}").isNotNull()
            & F.col(f"b_{f}").isNotNull()
            & (F.abs(F.col(f"a_{f}") - F.col(f"b_{f}")) <= F.lit(float(band)))
        )
        score = score + F.when(agree, F.lit(float(agree_w))).otherwise(
            F.lit(float(disagree_w))
        )
        out_flags.append(agree.alias(f"agree_{f}"))
    return (
        pairs.select(
            F.col(f"a_{id_col}").alias("id_a"),
            F.col(f"b_{id_col}").alias("id_b"),
            F.col(f"a_{block_on}").alias("block"),
            *out_flags,
            score.alias("score"),
        )
        .filter(F.col("score") >= float(threshold))
    )


def linkage_pairs_banded(
    df: DataFrame,
    block_on: str,
    id_col: str,
    exact_fields: "Sequence[str]" = (),
    band_field: "tuple[str, float]" = ("", 0.0),
    agree_w: float = 1.0,
    disagree_w: float = -0.5,
    threshold: float = 1.5,
) -> DataFrame:
    """Composite-blocked linkage: same contract and SAME RESULT as
    linkage_pairs -- certified by sharing its oracle -- but candidates
    meet on (block, band-bucket) instead of the raw block, so block
    size stays bounded when the table grows under a fixed-cardinality
    blocking key (the j18 scale-experiment finding: nation-only blocks
    grow quadratically in pairs).

    Lossless REQUIRES the threshold to make band agreement mandatory
    (max score without it < threshold); asserted, not assumed.  The
    bucket trick is band_join's: width 2*band, one side replicated to
    bucket +-1, refine after the equi join -- no true pair lost, each
    surviving pair meets exactly once (at the left row's own bucket).
    """
    field, band = band_field
    if not field or band <= 0:
        raise ValueError("band_field=(column, width>0) is required")
    max_without_band = float(agree_w) * len(exact_fields) + float(disagree_w)
    if not max_without_band < float(threshold):
        raise ValueError(
            "threshold must make band agreement mandatory for the banded "
            f"blocking to be lossless (max score without it = {max_without_band})"
        )
    w = 2.0 * float(band)
    cols = [id_col, block_on, *exact_fields, field]
    a = df.select([F.col(c).alias(f"a_{c}") for c in cols]).withColumn(
        "__bkt", F.floor(F.col(f"a_{field}") / F.lit(w))
    )
    b = (
        df.select([F.col(c).alias(f"b_{c}") for c in cols])
        .withColumn("__b0", F.floor(F.col(f"b_{field}") / F.lit(w)))
        .withColumn(
            "__bkt",
            F.explode(F.array(F.col("__b0") - 1, F.col("__b0"), F.col("__b0") + 1)),
        )
        .drop("__b0")
    )
    pairs = a.join(
        b,
        (F.col(f"a_{block_on}") == F.col(f"b_{block_on}"))
        & (a["__bkt"] == b["__bkt"])
        & (F.col(f"a_{id_col}") < F.col(f"b_{id_col}")),
    ).filter(F.abs(F.col(f"a_{field}") - F.col(f"b_{field}")) <= F.lit(float(band)))
    score = F.lit(0.0)
    out_flags = []
    for f in exact_fields:
        agree = F.col(f"a_{f}").eqNullSafe(F.col(f"b_{f}"))
        score = score + F.when(agree, F.lit(float(agree_w))).otherwise(
            F.lit(float(disagree_w))
        )
        out_flags.append(agree.alias(f"agree_{f}"))
    band_agree = (
        F.col(f"a_{field}").isNotNull()
        & F.col(f"b_{field}").isNotNull()
        & (F.abs(F.col(f"a_{field}") - F.col(f"b_{field}")) <= F.lit(float(band)))
    )
    score = score + F.when(band_agree, F.lit(float(agree_w))).otherwise(
        F.lit(float(disagree_w))
    )
    out_flags.append(band_agree.alias(f"agree_{field}"))
    return (
        pairs.select(
            F.col(f"a_{id_col}").alias("id_a"),
            F.col(f"b_{id_col}").alias("id_b"),
            F.col(f"a_{block_on}").alias("block"),
            *out_flags,
            score.alias("score"),
        )
        .filter(F.col("score") >= float(threshold))
    )


_EARTH_RADIUS_KM = 6371.0088  # IUGG mean Earth radius
_KM_PER_DEG_LAT = _EARTH_RADIUS_KM * 3.141592653589793 / 180.0  # ~111.195


def _haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle distance in km between two (lat, lon) degree pairs
    -- pure built-in trig, codegen-friendly."""
    p1, p2 = F.radians(lat1), F.radians(lat2)
    dp = F.radians(lat2 - lat1) / 2.0
    dl = F.radians(lon2 - lon1) / 2.0
    h = F.sin(dp) * F.sin(dp) + F.cos(p1) * F.cos(p2) * F.sin(dl) * F.sin(dl)
    # clamp: float error can push h epsilon past 1 for near-antipodes
    return 2.0 * _EARTH_RADIUS_KM * F.asin(F.sqrt(F.least(h, F.lit(1.0))))


def spatial_radius_join(
    points_a: DataFrame,
    points_b: DataFrame,
    radius: float,
    id_a: str = "id_a",
    id_b: str = "id_b",
    x_col: str = "x",
    y_col: str = "y",
    metric: str = "euclidean",
) -> DataFrame:
    """Spatial radius join: all (a, b) pairs within `radius` -- the
    proximity-join primitive (store-to-customer assignment, sensor
    correlation, POI matching).

    metric="euclidean": planar coordinates, radius in the same unit.
    metric="haversine": x_col = longitude deg, y_col = latitude deg,
    radius in KILOMETERS, exact great-circle refine.

    Never a cross join: both sides bucket into radius-sized grid
    cells; any pair within `radius` lands in the same or an adjacent
    cell, so side B expands to its 3x3 neighbor cells (a bounded 9x
    map-side fan-out of (id, x, y) tuples, not payloads) and
    candidates come from a cell-keyed EQUI join, refined by the exact
    distance predicate.  Shuffle keys are cell ids; skew follows
    spatial density and AQE's skew split applies.

    Geodesic cells (metric="haversine"): latitude bands are uniform
    (radius / km-per-degree-lat); longitude cell WIDTH derives from the
    minimum cos(lat) of each latitude band (degrees-per-km grows
    toward the poles), with the band's cell count floored so every
    cell is at least one radius wide -- a pair can then never span
    more than adjacent cells.  Longitude cells wrap modulo the band's
    cell count, so antimeridian neighbors (lon 179.9 vs -179.9) land
    in adjacent cells; a band whose edge reaches a pole collapses to
    ONE longitude cell (cos -> 0 means all longitudes converge).
    Neighbor expansion computes B's longitude cell under EACH probed
    latitude band's own grid, keeping the key an equi-join across
    bands with different cell widths.

    Returns (id_a, id_b, dist) with dist rounded for cross-engine
    stability.
    """
    r = float(radius)
    if r <= 0:
        raise ValueError(f"radius must be positive, got {radius}")
    if metric == "haversine":
        return _spatial_radius_join_haversine(
            points_a, points_b, r, id_a, id_b, x_col, y_col
        )
    if metric != "euclidean":
        raise ValueError(f"unknown metric {metric!r}: euclidean|haversine")
    ax, ay = F.col("__ax"), F.col("__ay")
    bx, by = F.col("__bx"), F.col("__by")
    a = points_a.select(
        F.col(id_a), F.col(x_col).alias("__ax"), F.col(y_col).alias("__ay"),
        F.floor(F.col(x_col) / r).alias("__cx"),
        F.floor(F.col(y_col) / r).alias("__cy"),
    )
    offsets = F.expr(
        "array(-1,0,1)"
    )
    b = (
        points_b.select(
            F.col(id_b), F.col(x_col).alias("__bx"), F.col(y_col).alias("__by"),
            F.floor(F.col(x_col) / r).alias("__bcx"),
            F.floor(F.col(y_col) / r).alias("__bcy"),
        )
        .select(
            id_b, "__bx", "__by",
            F.explode(offsets).alias("__dx"), "__bcx", "__bcy",
        )
        .select(
            id_b, "__bx", "__by",
            (F.col("__bcx") + F.col("__dx")).alias("__cx"),
            F.explode(offsets).alias("__dy"), "__bcy",
        )
        .select(
            id_b, "__bx", "__by", "__cx",
            (F.col("__bcy") + F.col("__dy")).alias("__cy"),
        )
    )
    d2 = (ax - bx) * (ax - bx) + (ay - by) * (ay - by)
    return (
        a.join(b, ["__cx", "__cy"])
        .filter(d2 <= F.lit(r * r))
        .select(
            id_a,
            id_b,
            F.round(F.sqrt(d2), 6).alias("dist"),
        )
    )


def _spatial_radius_join_haversine(
    points_a: DataFrame,
    points_b: DataFrame,
    r_km: float,
    id_a: str,
    id_b: str,
    lon_col: str,
    lat_col: str,
) -> DataFrame:
    """Geodesic grid-cell radius join (see spatial_radius_join docstring
    for the cell-sizing proof sketch).  Latitude bands are uniform;
    each band's longitude cell count n derives from the band's minimum
    cos(lat) EXTENDED one band each side (neighbor probes read B's
    cell under the probed band's grid) via the exact bound
    delta_lambda <= 2*asin(min(1, r / (2*R*cos))) -- so a pair within
    r km never spans more than adjacent cells, including across the
    antimeridian (cells wrap mod n) and at the poles (n collapses to
    a whole-band cell).  Candidate fan-out stays the bounded 3x3 of
    the planar version; array_distinct collapses wrapped duplicates
    map-side, so no dedup shuffle."""
    import math

    dlat = r_km / _KM_PER_DEG_LAT  # band height in degrees

    def n_cells(band):
        # worst |lat| edge over this band AND its probe neighbors
        edge_deg = (
            (F.greatest(F.abs(band), F.abs(band + F.lit(1))) + F.lit(1)).cast("double")
            * F.lit(dlat)
        )
        c = F.cos(F.radians(F.least(edge_deg, F.lit(90.0))))
        x = F.least(
            F.lit(1.0),
            F.lit(r_km) / (F.lit(2.0 * _EARTH_RADIUS_KM) * F.greatest(c, F.lit(1e-12))),
        )
        dl_max = 2.0 * F.asin(x)  # radians; widest lon gap a pair can have
        return F.greatest(
            F.lit(1).cast("long"),
            F.floor(F.lit(2.0 * math.pi) / dl_max).cast("long"),
        )

    def cell(lon, n):
        raw = F.floor((lon + F.lit(180.0)) * n.cast("double") / F.lit(360.0)).cast(
            "long"
        )
        # lon == 180.0 exactly maps past the last cell; clamp
        return F.least(F.greatest(raw, F.lit(0).cast("long")), n - F.lit(1))

    a = (
        points_a.select(
            F.col(id_a),
            F.col(lon_col).alias("__alon"),
            F.col(lat_col).alias("__alat"),
        )
        .withColumn("__band", F.floor(F.col("__alat") / F.lit(dlat)).cast("long"))
        .withColumn("__n", n_cells(F.col("__band")))
        .withColumn("__cx", cell(F.col("__alon"), F.col("__n")))
        .select(id_a, "__alon", "__alat", "__band", "__cx")
    )
    b = (
        points_b.select(
            F.col(id_b),
            F.col(lon_col).alias("__blon"),
            F.col(lat_col).alias("__blat"),
        )
        .withColumn("__b0", F.floor(F.col("__blat") / F.lit(dlat)).cast("long"))
        .withColumn(
            "__band",
            F.explode(
                F.array(F.col("__b0") - 1, F.col("__b0"), F.col("__b0") + 1)
            ),
        )
        .withColumn("__n", n_cells(F.col("__band")))
        .withColumn("__c0", cell(F.col("__blon"), F.col("__n")))
        # wrapped neighbors (mod n) collapse to the same cell when n is
        # small; array_distinct dedups map-side, before any shuffle
        .withColumn(
            "__cx",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.pmod(F.col("__c0") - 1, F.col("__n")),
                        F.col("__c0"),
                        F.pmod(F.col("__c0") + 1, F.col("__n")),
                    )
                )
            ),
        )
        .select(id_b, "__blon", "__blat", "__band", "__cx")
    )
    dist = _haversine_km(
        F.col("__alat"), F.col("__alon"), F.col("__blat"), F.col("__blon")
    )
    return (
        a.join(b, ["__band", "__cx"])
        .filter(dist <= F.lit(r_km))
        .select(id_a, id_b, F.round(dist, 6).alias("dist"))
    )


def point_in_polygon(
    points: DataFrame,
    polygon: Sequence[tuple],
    x_col: str = "x",
    y_col: str = "y",
    out_col: str = "inside",
) -> DataFrame:
    """Point-in-polygon containment flag via the even-odd ray-casting
    rule: a horizontal ray from the point crosses the polygon boundary
    an odd number of times iff the point is inside.

    The polygon (a sequence of (x, y) vertices, closed implicitly) is a
    PLAN-TIME constant: the crossing test unrolls to one boolean term
    per edge XOR-folded in a single projection -- pure codegen, no UDF,
    no join, so at 100 TB this is a zero-shuffle map over the points.
    For MANY polygons, bucket by bounding-box grid cells first (the
    spatial_radius_join machinery) and refine per candidate polygon.

    Edge cases follow the classic half-open rule ((y1 > y) != (y2 > y)),
    so boundary points on horizontal edges and shared vertices count
    once, never twice.
    """
    verts = [(float(a), float(b)) for a, b in polygon]
    if len(verts) < 3:
        raise ValueError(f"polygon needs >= 3 vertices, got {len(verts)}")
    px, py = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    inside = F.lit(False)
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        if y1 == y2:
            continue  # horizontal edge: the half-open rule never crosses it
        crosses = (
            ((F.lit(y1) > py) != (F.lit(y2) > py))
            & (
                px
                < F.lit(x2 - x1) * (py - F.lit(y1)) / F.lit(y2 - y1) + F.lit(x1)
            )
        )
        inside = inside != crosses  # XOR fold: odd crossing count
    return points.withColumn(out_col, inside)


def point_in_polygon_sql(
    polygon: Sequence[tuple], x: str, y: str
) -> str:
    """The identical even-odd test as engine-agnostic SQL text: one
    0/1 crossing term per edge, summed, parity-checked (chained <>
    XOR does not parse in SQL grammars) -- shared verbatim with the
    DuckDB oracle, same discipline as zorder_key_sql."""
    verts = [(float(a), float(b)) for a, b in polygon]
    terms = []
    n = len(verts)
    for i in range(n):
        x1, y1 = verts[i]
        x2, y2 = verts[(i + 1) % n]
        if y1 == y2:
            continue
        terms.append(
            f"CAST(((({y1!r} > {y}) <> ({y2!r} > {y})) AND "
            f"({x} < {x2 - x1!r} * ({y} - {y1!r}) / {y2 - y1!r} + {x1!r})) AS INTEGER)"
        )
    return "((" + " + ".join(terms) + ") % 2 = 1)"
