"""Shared column-expression helpers — the engine's scalar-function layer.

Everything here returns a pyspark Column built from built-in functions only
(JVM-side, whole-stage-codegen eligible); no Python UDFs. Where a helper is
used in an oracle-checked query, its DuckDB twin is noted so the two engines
compute bit-identical values.

Reference parity: the reference's entire scalar surface is whitespace split,
substring containment, int parse, regex match, concat, FNV hash, and XOR
(SURVEY.md §2.8); all are covered here plus the standard Spark surface.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "let",
    "tokens",
    "md5_hex",
    "seeded_md5",
    "dot",
    "l2norm",
]

def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def let(value: Column, body) -> Column:
    """Bind ``value`` to a lambda variable and build ``body`` from it —
    evaluate-once semantics that survive the optimizer.

    Why this exists: staging an expensive expression as its own select()
    column is NOT enough — CollapseProject merges adjacent projections and
    re-inlines the expression into every reference site, and higher-order
    function lambdas get no common-subexpression elimination, so a
    composite like minhash(shingles(tokens(text))) silently re-tokenizes
    per shingle per seed (measured 10.4 s → 1.3 s on the sf0.1 LSH shingle
    stage). Wrapping the value in a 1-element array and applying ``body``
    inside transform() forces one evaluation per row: the lambda variable
    is a bound reference to the already-materialized element, however many
    times the body reads it.

    Purely a Spark physical-plan device — oracle SQL needs no twin (DuckDB
    evaluates its CTE columns once)."""
    return F.element_at(F.transform(F.array(value), body), 1)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization → array<string>: every maximal run of
    characters outside Java's ``\\s`` class (space, ``\\t``, ``\\n``,
    ``\\x0b``, ``\\f``, ``\\r``), in order — the matches of ``\\S+``. No
    element is empty; ``""`` and whitespace-only strings give ``[]``; NULL
    gives NULL.
    The pattern is a literal, so ``regexp_extract_all`` compiles it once per
    task and the match runs in generated code, with no per-row lambda.
    DuckDB twin: ``list_filter(string_split_regex(x, '\\s+'), t -> t <> '')``;
    it agrees on every input without ``\\x0b``, which RE2's ``\\s`` lacks.
    Reference: strings.Fields (server/wordCount.go:75-84)."""
    return F.regexp_extract_all(_c(col), F.lit(r"\S+"), 0)


def md5_hex(col: Column | str) -> Column:
    """Hex MD5 — identical output in Spark and DuckDB (``md5(x)``), the
    cross-engine-stable hash used for dedup fingerprints and minhash
    (engines' native hash()/xxhash64 seeds differ)."""
    return F.md5(_c(col).cast("string"))


def seeded_md5(col: Column | str, seed: int) -> Column:
    """Seeded hash family member: md5(seed || '#' || x). A family of
    independent uniform hashes for minhash signatures; lexicographic MIN of
    the hex string is a valid min-hash. DuckDB twin:
    ``md5(CAST(seed AS VARCHAR) || '#' || x)``."""
    return F.md5(F.concat(F.lit(f"{seed}#"), _c(col).cast("string")))


def dot(a: Column | str, b: Column | str) -> Column:
    """Double-precision dot product of two array<float|double> columns via
    an index fold — JVM-side, no UDF. The fold accumulates acc + a[i]*b[i]
    in ascending i, the exact order of the previous zip_with+aggregate
    form (bit-identical results) but ~2× faster on all-pairs workloads:
    no intermediate product array is materialized per pair (measured 51 s
    → 25 s on the 2M-pair sf0.1 sum). DuckDB twin:
    ``list_dot_product(a::DOUBLE[], b::DOUBLE[])`` (also a left-to-right
    double fold, so values match bit-for-bit).

    Measured NEGATIVE (round 10, OPTIMIZATION_r10.md): unrolling the
    sum into a flat 64-wide expression is ~3× faster PER CORE on a large
    pair scan (380k cosines, single scan partition: 8.6 s → 2.6 s,
    bit-equal), but swapping it in here made every sim/dedup registry
    query 3-8× SLOWER at bench SF — those plans are codegen/compile
    bound, not compute-bound, and the ~450-node tree per dot site (×
    tens of sites on the literal-centroid paths) blows past janino/JIT
    method limits. Keep the fold; revisit per-site unrolling only for
    genuinely throughput-bound deployments."""
    ca, cb = _c(a), _c(b)
    folded = F.aggregate(
        F.sequence(F.lit(0), F.size(ca) - 1),
        F.lit(0.0),
        lambda acc, i: acc + F.get(ca, i).cast("double") * F.get(cb, i).cast("double"),
    )
    # sequence(0, -1) would run DESCENDING on an empty array; match the
    # old form's 0.0-for-empty (and NULL-for-NULL) behavior explicitly.
    return F.when(F.size(ca) == 0, F.lit(0.0)).otherwise(folded)


def l2norm(a: Column | str) -> Column:
    """sqrt(sum(x^2)) in double. DuckDB twin: ``sqrt(list_dot_product(a::DOUBLE[], a::DOUBLE[]))``."""
    return F.sqrt(dot(a, a))

