"""Cross-engine deterministic primitives for the training-data pipeline.

Every pipeline operator is verified against a DuckDB oracle by value
hash, so every scalar it produces must be bit-identical across Spark
and DuckDB. Rules used throughout:

- integers only in multi-term arithmetic (sums/products are exact and
  order-independent);
- doubles only as the *last* step, from identical integer inputs, via a
  single correctly-rounded IEEE op chain (one divide / one sqrt) — these
  are bit-identical across engines;
- the portable 56-bit string hash below is md5-based (both engines ship
  md5) so hash values agree exactly.
"""

from __future__ import annotations

from ..index import _rescan_changed_zips_only

# -- portable 56-bit string hash: first 14 hex chars of md5 -------------------

def spark_h_sql(col: str) -> str:
    return f"CAST(conv(substr(md5({col}), 1, 14), 16, 10) AS BIGINT)"


def duck_h_sql(col: str) -> str:
    return f"('0x' || substr(md5({col}), 1, 14))::BIGINT"


# -- embedding quantization: float32 -> exact int64 grid ----------------------
# floor(double(e) * 10000): float32->double is exact, one multiply + floor
# are correctly rounded, so both engines (and numpy) land on the same int.

QUANT = 10_000

def spark_quant_sql(col: str = "embedding") -> str:
    return (f"transform({col}, e -> "
            f"CAST(floor(CAST(e AS DOUBLE) * {QUANT}) AS BIGINT))")


def duck_quant_sql(col: str = "embedding") -> str:
    return (f"list_transform({col}, e -> "
            f"(floor(e::DOUBLE * {QUANT}))::BIGINT)")


# -- minhash permutation family ----------------------------------------------
# minhash_i(s) = (A_i * (H(s) % P) + B_i) % P  — all operands < 2^63.

MINHASH_P = 1_000_000_007
N_PERMS = 64
N_BANDS = 32          # 32 bands x 2 rows: recall ~0.99 at jaccard 0.5
ROWS_PER_BAND = N_PERMS // N_BANDS
SIG_BASE = 1_000_003  # band signature = base-SIG_BASE digits of row minima


def perm_a_sql(i: str = "i") -> str:
    return f"(10007 * {i} + 103)"


def perm_b_sql(i: str = "i") -> str:
    return f"(31 * {i} + 7)"


# -- vectorized grouped-map without per-group UDF calls -----------------------

def sorted_group_map(df, key: str, kernel, schema: str):
    """groupBy(key).applyInPandas replacement for MANY SMALL groups:
    repartition by key, sort within partitions, then one mapInPandas
    pass whose kernel sees whole groups (boundary rows carry over
    between Arrow batches). The kernel receives a pandas DataFrame
    sorted by `key` containing only complete groups and can use
    np.*.reduceat over group starts — thousands of groups per call
    instead of one Python call per group."""
    import numpy as np
    import pandas as pd

    parted = df.repartition(key).sortWithinPartitions(key)

    def run(batches):
        _rescan_changed_zips_only()
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                carry = None
                continue
            k = pdf[key].to_numpy()
            cut = int(np.searchsorted(k, k[-1]))  # start of the last group
            if cut == 0:
                carry = pdf        # batch is one (possibly split) group
                continue
            carry = pdf.iloc[cut:]
            yield kernel(pdf.iloc[:cut])
        if carry is not None and len(carry):
            yield kernel(carry)

    return parted.mapInPandas(run, schema)


# -- stopword list used by quality scoring / lang-id --------------------------

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")

# language marker words for the n-gram/stopword lang-id heuristic
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "fr": ("le", "la", "les", "et", "de"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "los", "las", "y", "es"),
}
