"""Engine-portable deterministic hashing primitives.

The reference replaces hashing with a learned FAISS ANN index
(/root/reference/cogie/models/el/blink.py:97-167) for sub-linear candidate
generation. Our Spark-first equivalent is MinHash-LSH banding, which needs
a hash family that is:

1. deterministic across engines (Spark AND DuckDB — the driver's oracle),
2. computable entirely JVM-side with built-in expressions (no Python),
3. cheap enough to evaluate per-shingle at 10^12-file scale.

We use the top 60 bits of md5 (15 hex chars -> BIGINT). Identical SQL
exists in DuckDB: ``('0x' || substring(md5(x),1,15))::BIGINT``.
A salt prefix gives us an indexed hash family h_i(x) = h64(i || ':' || x),
the standard "k independent permutations" construction for MinHash.

All functions here return Column expressions (whole-stage codegen'd);
none drop to Python.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from cogie_spark.functions.sqltext import ident


def h64(col: Column | str, salt: str = "") -> Column:
    """Portable 60-bit hash of a string column as BIGINT.

    Matches DuckDB: ('0x' || substring(md5(<salt>:<x>),1,15))::BIGINT
    """
    c = F.col(col) if isinstance(col, str) else col
    if salt:
        c = F.concat(F.lit(f"{salt}:"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


# Linear-permutation MinHash family over a single base hash:
#   base(s)  = top 28 bits of md5(s)            (one md5 per shingle)
#   perm_i(h)= (a_i * h + b_i) mod P            (exact int64, no overflow:
#              a_i < P < 2^30 ... a_i*h < 2^58)
# Same constants and arithmetic are emitted into the DuckDB oracle SQL, so
# signatures are bit-identical across engines.
MINHASH_P = 1_000_000_007
_A_MULT = 2_654_435_761  # Knuth multiplicative constant
_B_MULT = 40_503


def _perm_coeffs(i: int) -> tuple[int, int]:
    return (_A_MULT * i + 1) % MINHASH_P, (_B_MULT * i + 7) % MINHASH_P


def base_hash28(col: Column) -> Column:
    """Portable 28-bit base hash: ('0x'||substring(md5(x),1,7))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("bigint")


def minhash_bands(sig_col: str, bands: int, rows_per_band: int) -> Column:
    """Split the MinHash signature column named ``sig_col`` into LSH bands.

    Returns array<struct<band_id:int, band_hash:bigint>> — explode it and
    equi-join on (band_id, band_hash) to get candidate pairs. Two items
    collide on a band iff all ``rows_per_band`` minima agree, giving the
    classic (1-(1-s^r)^b) S-curve.

    Built as ONE SQL expression, which the JVM parses in one call
    however many bands there are (functions/sqltext.py); built through
    the Column API it costs ~80 Py4J round-trips per band.
    ``struct(... AS ...)``, not ``named_struct``, so the plan prints the
    same either way.
    """
    # BIGINT band hash: block keys are shuffled/sorted billions of
    # times at scale — 8-byte longs beat 32-char md5 strings on every
    # axis (bytes moved, comparisons, hashing). xxhash64 over the
    # concatenated minima; the value never crosses engines (oracles
    # verify pair OUTPUT, not band representation).
    sig = ident(sig_col)
    structs = ", ".join(
        f"struct({b} AS band_id, xxhash64(concat_ws('_', transform("
        f"slice({sig}, {b * rows_per_band + 1}, {rows_per_band}), "
        f"x -> cast(x as string)))) AS band_hash)"
        for b in range(bands)
    )
    return F.expr(f"array({structs})")


def simhash64(token_col: Column, bits: int = 64) -> Column:
    """SimHash over a token array, entirely with built-in expressions.

    Each token hashes to ``bits`` bits via h64; per bit position we sum
    +1/-1 votes across tokens and take the sign. Implemented as: for each
    bit j, sum over tokens of (2*((h>>j)&1)-1); result bit j = vote>0.

    Expressed with aggregate() over the token array so it runs JVM-side.
    """
    h = F.transform(token_col, lambda t: h64(t))

    def bit_expr(j: int) -> Column:
        def merge(acc: Column, x: Column) -> Column:
            return acc + (F.shiftright(x, j).bitwiseAND(F.lit(1)) * 2 - 1)

        votes = F.aggregate(h, F.lit(0).cast("long"), merge)
        return F.when(votes > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))

    out = F.lit(0).cast("long")
    for j in range(bits - 1, -1, -1):
        out = out * 2 + bit_expr(j)
    return out
