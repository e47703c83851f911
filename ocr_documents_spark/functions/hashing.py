"""Cross-engine deterministic hashing primitives.

Everything here is built on md5 because its output is bit-identical across
Spark and DuckDB, which makes MinHash / SimHash / fingerprint operators
oracle-checkable: the DuckDB SQL in __spark_entry__.oracle_sql() uses the
same constructions.

* MinHash family (Broder, "On the resemblance and containment of
  documents", SEQUENCES 1997): h_j(x) = md5(j || ':' || x) compared
  lexicographically — a valid min-wise hash family (each salt j induces an
  independent pseudo-random order over shingles); signature_j = min_x
  h_j(x); banding per Leskovec/Rajaraman/Ullman, Mining of Massive
  Datasets ch. 3.
* SimHash (Charikar, "Similarity estimation techniques from rounding
  algorithms", STOC 2002): per-token 60-bit integer from the first 15 hex
  chars of md5 (Spark: conv(...,16,10); DuckDB: ('0x'||...)::UBIGINT),
  bit votes summed per position.

At 100 TB these run as pure column expressions inside whole-stage codegen —
no Python, no UDF, shuffle only at the final groupBy(doc_id).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SIMHASH_BITS = 16


def md5_int60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint (engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_bit_votes(token_hash: Column, bit: int) -> Column:
    """+1/-1 vote for one bit position, to be summed per document."""
    return F.when(F.shiftright(token_hash, bit).bitwiseAND(F.lit(1)) == 1,
                  F.lit(1)).otherwise(F.lit(-1))


def simhash_from_votes(vote_sums: list[Column]) -> Column:
    """Fold per-bit vote sums into the SimHash integer."""
    acc = F.lit(0).cast("long")
    for bit, votes in enumerate(vote_sums):
        acc = acc + F.when(votes > 0, F.lit(1 << bit)).otherwise(F.lit(0)).cast("long")
    return acc


def simhash_struct_fold(token_hashes: Column, bits: int) -> Column:
    """Full SimHash in ONE aggregate() pass over the token-hash array: the
    accumulator is a struct of per-bit vote sums, so a 60-bit hash costs
    one array traversal instead of 60 (the per-bit-aggregate formulation
    re-scans the array once per bit)."""
    init = F.struct(*[F.lit(0).alias(f"v{b}") for b in range(bits)])

    def step(acc, h):
        return F.struct(*[
            (acc[f"v{b}"] + simhash_bit_votes(h, b)).alias(f"v{b}")
            for b in range(bits)])

    votes = F.aggregate(token_hashes, init, step)
    return simhash_from_votes([votes[f"v{b}"] for b in range(bits)])


# --- DuckDB oracle-side builders (string SQL, same math) -------------------

def duckdb_simhash_select(token_hash_expr: str, bits: int = SIMHASH_BITS) -> str:
    """SUM-of-votes + fold expression for the DuckDB oracle."""
    votes = ", ".join(
        f"sum(case when (({token_hash_expr}) >> {b}) & 1 = 1 then 1 else -1 end) as v{b}"
        for b in range(bits))
    fold = " + ".join(f"(case when v{b} > 0 then {1 << b} else 0 end)"
                      for b in range(bits))
    return votes, fold
