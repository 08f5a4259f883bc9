"""Z-order (Morton curve) data layout: multi-dimensional clustering for
scan pruning (north-star extension; no analog in the reference, which reads
its whole directory unconditionally, Program.cs:31-43).

At 100 TB, queries filter on more than one column (e.g. customer AND price
band); sorting by either column alone leaves the other scattered across
every file. Interleaving the bits of both keys (Morton/Z-value) and
range-partitioning on that value clusters *both* dimensions at once, so
parquet min/max row-group stats prune scans on either predicate — the
technique behind Delta/Iceberg OPTIMIZE ZORDER, built here from plain
Catalyst integer expressions (shiftleft/and/or — whole-stage codegen, no
UDF).

The bit-spreading is the standard O(log b) magic-number sequence (public
domain "Interleave bits by Binary Magic Numbers", Stanford Bit Twiddling
Hacks); each 16-bit key spreads into even bit positions in 4 shift-mask
steps, chained as separate projections to keep the expression tree linear.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (shift, mask) steps spreading a 16-bit int so bit i lands at position 2i.
_SPREAD_STEPS = [
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
]


def spread_bits_16(c: Column) -> Column:
    """Spread the low 16 bits of ``c`` so bit i moves to bit 2i."""
    v = c.cast("bigint").bitwiseAND(F.lit(0xFFFF))
    for shift, mask in _SPREAD_STEPS:
        v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
    return v


def zorder_value(x: Column, y: Column) -> Column:
    """Morton Z-value interleaving two 16-bit keys (x in even bits, y odd)."""
    return spread_bits_16(x).bitwiseOR(F.shiftleft(spread_bits_16(y), 1))


def zorder_repartition(df: DataFrame, x: str, y: str, num_files: int,
                       z_col: str = "z") -> DataFrame:
    """Cluster ``df`` for writing: range-partition into ``num_files`` splits
    by the Z-value of (x, y). ``df.write.parquet`` after this produces files
    whose per-file min/max stats are tight on BOTH dimensions.

    repartitionByRange samples the Z distribution to pick balanced split
    points — the scalable path (no global sort, no single-partition window).
    """
    out = df.withColumn(z_col, zorder_value(F.col(x), F.col(y)))
    return out.repartitionByRange(num_files, z_col).sortWithinPartitions(z_col)


def hilbert_value(x: Column, y: Column, bits: int = 16) -> Column:
    """Hilbert-curve index of a (x, y) cell in a 2^bits × 2^bits grid —
    the strictly-better-locality alternative to the Morton Z-value:
    consecutive Hilbert codes are ALWAYS grid-adjacent (unit manhattan
    step, property-pinned in tests), where the Z curve jumps across the
    grid at power-of-two boundaries. Tighter run locality ⇒ tighter
    per-file min/max envelopes at the same file count ⇒ better scan
    pruning on both dimensions (the reason Databricks moved liquid
    clustering from Z-order to Hilbert).

    Standard iterative xy→d transform (the public-domain Wikipedia
    formulation). SINGLE-EXPRESSION form: each rotation step references
    x and y twice, so the inlined tree doubles per step (2^bits nodes)
    — fine for small grids (≤ ~8 bits), a py4j/codegen bomb at 16. Use
    ``hilbert_index`` (chained per-step projections, linear tree — the
    zorder_value chaining discipline) for production widths; this
    Column form exists for small-grid tests and literals."""
    if bits > 8:
        raise ValueError(
            "hilbert_value inlines 2^bits expression nodes; use "
            "hilbert_index(df, ...) for bits > 8")
    d = F.lit(0).cast("bigint")
    x = x.cast("bigint")
    y = y.cast("bigint")
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        rx = F.when(x.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(y.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        d = d + F.lit(s) * F.lit(s) * ((F.lit(3) * rx).bitwiseXOR(ry))
        # rotate the quadrant: if ry == 0 then (flip if rx == 1, then swap)
        nx = (F.when((ry == 0) & (rx == 1), F.lit(s - 1) - y)
              .when(ry == 0, y).otherwise(x))
        ny = (F.when((ry == 0) & (rx == 1), F.lit(s - 1) - x)
              .when(ry == 0, x).otherwise(y))
        x, y = nx, ny
    return d


def hilbert_index(df: DataFrame, x: str, y: str, bits: int = 16,
                  out_col: str = "hval") -> DataFrame:
    """Hilbert index as chained per-step PROJECTIONS (the zorder_value
    chaining discipline): every step reads the previous projection's
    named (x, y, d) columns, so the plan is ``bits`` linear projections
    of integer CASE expressions — whole-stage codegen, no UDF, no
    exponential inlining. Adds ``out_col`` and preserves all input
    columns."""
    keep = df.columns
    cur = df.select(
        *keep,
        F.col(x).cast("bigint").alias("_hx"),
        F.col(y).cast("bigint").alias("_hy"),
        F.lit(0).cast("bigint").alias("_hd"),
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        hx, hy, hd = F.col("_hx"), F.col("_hy"), F.col("_hd")
        rx = F.when(hx.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(hy.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        cur = cur.select(
            *keep,
            (F.when((ry == 0) & (rx == 1), F.lit(s - 1) - hy)
             .when(ry == 0, hy).otherwise(hx)).alias("_hx"),
            (F.when((ry == 0) & (rx == 1), F.lit(s - 1) - hx)
             .when(ry == 0, hx).otherwise(hy)).alias("_hy"),
            (hd + F.lit(s * s).cast("bigint")
             * ((F.lit(3) * rx).bitwiseXOR(ry)).cast("bigint"))
            .alias("_hd"),
        )
    return cur.select(*keep, F.col("_hd").alias(out_col))


def hilbert_sql_ctes(x_expr: str, y_expr: str, key: str,
                     src: str, bits: int = 16) -> tuple[str, str]:
    """The SAME xy→d unroll as ``hilbert_value``, emitted as chained
    DuckDB CTEs with identical integer arithmetic: h0 binds
    (key, x, y, d=0); each step rebinds (x, y, d) — all expressions in
    a step read the PREVIOUS CTE's columns, mirroring the pre-update
    rx/ry/d evaluation order of the Column version. Returns
    (ctes_sql, final_cte_name); the final CTE holds (k, hval)."""
    parts = [
        f"h0 AS (SELECT {key} AS k, CAST({x_expr} AS BIGINT) AS x,"
        f" CAST({y_expr} AS BIGINT) AS y, CAST(0 AS BIGINT) AS d"
        f" FROM {src})"
    ]
    step = 0
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        prev, cur = f"h{step}", f"h{step + 1}"
        parts.append(
            f"{cur} AS (SELECT k,"
            f" CASE WHEN (y & {s}) = 0 AND (x & {s}) > 0 THEN {s - 1} - y"
            f"      WHEN (y & {s}) = 0 THEN y ELSE x END AS x,"
            f" CASE WHEN (y & {s}) = 0 AND (x & {s}) > 0 THEN {s - 1} - x"
            f"      WHEN (y & {s}) = 0 THEN x ELSE y END AS y,"
            f" d + {s}::BIGINT * {s}::BIGINT *"
            f" xor(3 * (CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END),"
            f"     (CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)) AS d"
            f" FROM {prev})"
        )
        step += 1
    final = f"h{step + 1}"
    parts.append(f"{final} AS (SELECT k, d AS hval FROM h{step})")
    return ",\n".join(parts), final


def ntile_two_phase(df: DataFrame, n_tiles: int, order_cols: list[str],
                    out_col: str = "bucket", parts: int = 8) -> DataFrame:
    """``ntile(n_tiles) OVER (ORDER BY order_cols)`` WITHOUT the
    single-partition global sort (r14, guide §2.5/§5: the Window form
    compiles to Exchange SinglePartition + Sort — every row of the table
    through ONE task, the definitional straggler at 100 TB).

    Two-phase exact rank, the _dense_rank_keys pattern: range-partition
    on the order keys (equal keys co-located, partition order = key
    order), per-partition row_number, add the per-partition row-count
    prefix sum (P scalars via the driver, broadcast back as a literal
    map), then apply Spark's EXACT NTile sizing arithmetic — n % n_tiles
    leading buckets of size n//n_tiles + 1, the rest n//n_tiles — as an
    integer expression of (rank, n). Bit-identical buckets to the Window
    form for any total order (the callers order by a unique key suffix).
    Costs one extra P-row driver action; removes the one-task sort."""
    from pyspark.sql.window import Window

    # lazy checkpoint BEFORE the range exchange: repartitionByRange runs
    # a sampling pass over its input, so an expensive upstream (the
    # 16-step hilbert projection chain) would otherwise compute twice
    df = df.localCheckpoint(eager=False)
    rp = (df.repartitionByRange(parts, *order_cols)
          .withColumn("_pid", F.spark_partition_id()))
    w = Window.partitionBy("_pid").orderBy(*order_cols)
    loc = rp.withColumn("_lrn", F.row_number().over(w).cast("bigint")) \
        .localCheckpoint(eager=False)
    agg = loc.groupBy("_pid").agg(F.count("*").alias("c")).collect()
    counts = {int(r["_pid"]): int(r["c"]) for r in agg}
    n = sum(counts.values())
    offset, offsets = 0, {}
    for pid in sorted(counts):
        offsets[pid] = offset
        offset += counts[pid]
    off_expr = F.element_at(
        F.create_map(*[F.lit(v).cast("bigint") if i else F.lit(v)
                       for kv in offsets.items()
                       for i, v in enumerate(kv)]),
        F.col("_pid"))
    rank = F.col("_lrn") + off_expr
    base, rem = divmod(n, n_tiles)
    if base == 0:
        # fewer rows than tiles: bucket i = row i (Spark NTile semantics)
        bucket = rank
    else:
        head = rem * (base + 1)
        bucket = F.when(
            rank <= F.lit(head),
            F.floor((rank - 1) / F.lit(base + 1)) + 1,
        ).otherwise(
            F.lit(rem) + F.floor((rank - F.lit(head) - 1) / F.lit(base)) + 1
        )
    return loc.withColumn(out_col, bucket.cast("int")) \
        .drop("_pid", "_lrn")
