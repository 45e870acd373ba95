"""Z-order (Morton) data layout: multi-dimensional clustering keys.

The 100 TB problem this solves: a table queried by TWO independent
range predicates (user bucket × day, lat × lon, …) can be sorted or
partitioned by only one of them — the other predicate scans
everything. Interleaving the bits of both dimensions into one Morton
key makes rows that are close in BOTH dimensions close in the key, so
one sorted/partitioned layout serves 2-D range queries: an aligned
2^k × 2^k box is exactly ONE contiguous key range, and an arbitrary
box intersects a provably bounded set of key tiles (enumerated
driver-side, turned into partition pruning). This is the technique
behind Delta/Iceberg `OPTIMIZE ZORDER BY` — here expressed as plain
integer expressions any engine evaluates identically, so the key
itself is oracle-verifiable bit for bit.

Everything is pure 64-bit integer arithmetic (shift/and/or, the
classic mask-spreading construction) — no floats, no UDFs, codegen
end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Successive mask-spreading rounds: after all four, the low 16 bits of
# the input occupy the even bit positions of a 32-bit value.
_SPREAD_ROUNDS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)

BITS_PER_DIM = 16  # supported key width per dimension


def spread_bits_sql(expr: str) -> str:
    """SQL text spreading the low 16 bits of `expr` into even bit
    positions — valid (and bit-identical) in both Spark SQL and
    DuckDB. Built by textual substitution; engines CSE the repeated
    subtrees."""
    s = f"(CAST({expr} AS BIGINT) & 65535)"
    for shift, mask in _SPREAD_ROUNDS:
        s = f"((({s}) | (({s}) << {shift})) & {mask})"
    return s


def morton_key_sql(x_expr: str, y_expr: str) -> str:
    """SQL text of the Morton key interleaving two ≤16-bit values:
    x in even bits, y in odd bits. Same text runs on both engines."""
    return f"({spread_bits_sql(x_expr)} | ({spread_bits_sql(y_expr)} << 1))"


def py_morton(x: int, y: int) -> int:
    """Python reference (tests + driver-side tile enumeration)."""

    def spread(v: int) -> int:
        v &= 0xFFFF
        for shift, mask in _SPREAD_ROUNDS:
            v = (v | (v << shift)) & mask
        return v

    return spread(x) | (spread(y) << 1)


def zorder_box_buckets(
    x_lo: int, x_hi: int, y_lo: int, y_hi: int, tile_bits: int
) -> list[int]:
    """Bucket ids (zkey >> 2·tile_bits) intersecting the inclusive box
    [x_lo, x_hi] × [y_lo, y_hi], where each bucket is an aligned
    2^tile_bits × 2^tile_bits tile.

    Driver-side enumeration over TILE indices, not points: the loop is
    O(#intersecting tiles) — e.g. a 100×100 box over 16×16 tiles is
    ≤ 64 iterations however large the table. The identity making
    buckets tiles is morton(x, y) >> 2k == morton(x >> k, y >> k)
    (interleaved bits shift out pairwise). The returned IN-list turns
    a 2-D range predicate into partition pruning on a zbucket
    partition column — the directory-level analog of what file-level
    z-clustering + min/max stats give on a real lakehouse layout."""
    return sorted(
        py_morton(xt, yt)
        for xt in range(x_lo >> tile_bits, (x_hi >> tile_bits) + 1)
        for yt in range(y_lo >> tile_bits, (y_hi >> tile_bits) + 1)
    )


def zorder_keys(
    df: DataFrame,
    x_col: str,
    y_col: str,
    tile_bits: int = 4,
) -> DataFrame:
    """Append (zkey, zbucket) to df: zkey interleaves x_col/y_col
    (callers pre-bucket each dimension into [0, 2^16)), zbucket is the
    aligned-tile id used as the write partition column. Pure
    projection — no shuffle; the shuffle happens (once, on zbucket)
    only when the layout is WRITTEN, and it is the same shuffle the
    partitioned write needs anyway."""
    return df.withColumn("zkey", F.expr(morton_key_sql(x_col, y_col))).withColumn(
        "zbucket", F.expr(f"zkey >> {2 * tile_bits}")
    )


def compact_partitions(
    spark,
    src_path: str,
    dst_path: str,
    partition_col: str,
    rows_per_file: int,
) -> list[tuple[str, int, int, int]]:
    """Small-files compaction (the lakehouse OPTIMIZE maintenance op).

    A 100 TB table ingested by many writers accumulates thousands of
    tiny files per partition; every subsequent scan pays per-file open
    cost and the NameNode/listing pays metadata. Compaction plans
    per PARTITION — the same unit Delta's OPTIMIZE uses — because the
    partition list is the bounded, driver-sized object (thousands of
    entries), while the row data never leaves the cluster: for each
    partition, target = ceil(rows / rows_per_file), rewrite through
    `repartition(target)`.

    repartition (not coalesce) on the rewrite: coalesce only narrows
    the scan's split packing, so its output file count inherits
    however the reader packed the small files (maxPartitionBytes /
    openCost), which is config-dependent; repartition produces EXACTLY
    `target` near-equal files — deterministic, and the even file
    sizes are what the next reader wants anyway.

    Returns the compaction manifest [(partition_value, n_rows,
    files_before, files_after)] measured from the filesystem;
    partition_value is the logical value (hive-unescaped, NULL for
    the default partition).
    """
    import math
    import os
    from urllib.parse import unquote

    manifest: list[tuple[str | None, int, int, int]] = []
    parts = sorted(
        e for e in os.listdir(src_path) if e.startswith(f"{partition_col}=")
    )
    for part in parts:
        # directory names carry Hive-ESCAPED values (Spark %-encodes
        # special chars and writes NULL as __HIVE_DEFAULT_PARTITION__);
        # the manifest must report the logical value or it can never
        # match the source table
        raw = part.split("=", 1)[1]
        value = None if raw == "__HIVE_DEFAULT_PARTITION__" else unquote(raw)
        src = os.path.join(src_path, part)
        files_before = sum(f.endswith(".parquet") for f in os.listdir(src))
        pdf = spark.read.parquet(src)
        n_rows = pdf.count()
        target = max(1, math.ceil(n_rows / rows_per_file))
        dst = os.path.join(dst_path, part)
        pdf.repartition(target).write.mode("overwrite").parquet(dst)
        files_after = sum(f.endswith(".parquet") for f in os.listdir(dst))
        manifest.append((value, n_rows, files_before, files_after))
    return manifest


def hilbert_xy2d(x: int, y: int, bits: int = 8) -> int:
    """Pure-Python Hilbert curve index (the classic xy2d loop) — the
    reference both engine implementations are verified against."""
    d = 0
    s = 1 << (bits - 1)
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def hilbert_steps_sql(bits: int = 8) -> str:
    """DuckDB CTE chain computing hilbert d for every row of a CTE
    `hp0(xb, yb)` — one MATERIALIZED step per bit (the loop state
    (x, y, d) would blow up exponentially if inlined as one nested
    expression; materializing each step keeps it linear — the same
    inlining hazard as the k-core oracle). Final CTE: `hkeys(xb, yb,
    hkey)`."""
    parts = ["h0 AS MATERIALIZED (SELECT xb, yb, xb AS x, yb AS y, CAST(0 AS BIGINT) AS d FROM hp0)"]
    step = 0
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        prev = f"h{step}"
        step += 1
        parts.append(
            f"""h{step} AS MATERIALIZED (
        SELECT xb, yb,
               CASE WHEN (y & {s}) = 0 THEN
                    (CASE WHEN (x & {s}) > 0 THEN {s} - 1 - y ELSE y END)
                    ELSE x END AS x,
               CASE WHEN (y & {s}) = 0 THEN
                    (CASE WHEN (x & {s}) > 0 THEN {s} - 1 - x ELSE x END)
                    ELSE y END AS y,
               d + {s * s} * xor(3 * (CASE WHEN (x & {s}) > 0 THEN 1 ELSE 0 END),
                                 (CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END)) AS d
        FROM {prev})"""
        )
    parts.append(
        f"hkeys AS MATERIALIZED (SELECT xb, yb, d AS hkey FROM h{step})"
    )
    return ",\n    ".join(parts)
