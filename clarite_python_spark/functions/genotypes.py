"""Genotype encodings as Spark column expressions.

The reference stores genotypes in the pandas-genomics ``GenotypeDtype``
extension array and encodes them right before regression
(``glm_regression.py:364-384``, ``interaction_study.py:66-89``) with the
pandas-genomics encoders:

- ``additive``   -> count of alternate alleles (0, 1, 2) — continuous
- ``dominant``   -> 1 if any alternate allele else 0 — continuous
- ``recessive``  -> 1 if homozygous alternate else 0 — continuous
- ``codominant`` -> 3-level categorical (Ref / Het / Hom)
- ``edge``       -> {hom-ref: 0, het: alpha_v, hom-alt: 1} with a
  per-variant alpha from an ``edge_encoding_info`` table (Hall et al.,
  EDGE encoding; pandas-genomics docs)

Spark-side a genotype is an opaque ``"a1/a2"`` StringType column (alleles
in any order) with the (ref, alt) alleles tracked in the
VariableCatalog. Encodings are pure JVM-side column expressions — no UDF,
fully codegen'd — so a GWAS-scale fan-out (10^6 variants) adds only an
Expand+projection to the plan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from clarite_python_spark.catalog import CATEGORICAL, CONTINUOUS, qcol, qlit, qname

KNOWN_ENCODINGS = ("additive", "dominant", "recessive", "codominant", "edge")

CODOMINANT_LEVELS = ["Het", "Hom", "Ref"]  # sorted() of the 3 labels


def alt_count(col: str, alt: str) -> Column:
    """Number of alternate alleles in an ``"a1/a2"`` genotype string."""
    left = F.split(qcol(col), "/").getItem(0)
    right = F.split(qcol(col), "/").getItem(1)
    return (
        (left == F.lit(alt)).cast("int") + (right == F.lit(alt)).cast("int")
    ).cast("double")


def _alt_count_fast_sql(col: str, ref: str, alt: str) -> str:
    """SQL-string form of :func:`alt_count_fast` (same semantics): the
    four canonical biallelic literals by string equality, split-count
    fallback otherwise.  Built as ONE parseable string because at GWAS
    width (10^3-10^6 variants) constructing the expression through the
    Column API costs ~20 py4j round-trips per variant — measured 43 s of
    DRIVER time for 1,000 variants vs ~1 s parsing strings."""
    c = qname(col)
    a = qlit(alt)
    fallback = (
        f"CAST(CAST(split({c}, '/')[0] = {a} AS INT)"
        f" + CAST(split({c}, '/')[1] = {a} AS INT) AS DOUBLE)"
    )
    return (
        f"CASE WHEN {c} = {qlit(f'{ref}/{ref}')} THEN 0.0D"
        f" WHEN {c} = {qlit(f'{ref}/{alt}')} OR {c} = {qlit(f'{alt}/{ref}')} THEN 1.0D"
        f" WHEN {c} = {qlit(f'{alt}/{alt}')} THEN 2.0D"
        f" ELSE {fallback} END"
    )


def encode_genotype_sql(
    col: str,
    ref: str,
    alt: str,
    encoding: str = "additive",
    alpha: float | None = None,
) -> tuple[str, str]:
    """(SQL expression string, resulting CLARITE type) for one genotype
    column — the string form of :func:`encode_genotype`, used by the
    fan-out so a whole GWAS panel encodes in ONE selectExpr."""
    c = qname(col)
    n_alt = _alt_count_fast_sql(col, ref, alt)
    if encoding == "additive":
        return (
            f"CASE WHEN {c} IS NULL THEN CAST(NULL AS DOUBLE) ELSE {n_alt} END",
            CONTINUOUS,
        )
    if encoding == "dominant":
        return (
            f"CASE WHEN {c} IS NULL THEN CAST(NULL AS DOUBLE)"
            f" ELSE CAST(({n_alt}) >= 1.0D AS DOUBLE) END",
            CONTINUOUS,
        )
    if encoding == "recessive":
        return (
            f"CASE WHEN {c} IS NULL THEN CAST(NULL AS DOUBLE)"
            f" ELSE CAST(({n_alt}) = 2.0D AS DOUBLE) END",
            CONTINUOUS,
        )
    if encoding == "codominant":
        return (
            f"CASE WHEN {c} IS NULL THEN CAST(NULL AS STRING)"
            f" WHEN ({n_alt}) = 0.0D THEN 'Ref'"
            f" WHEN ({n_alt}) = 1.0D THEN 'Het'"
            f" ELSE 'Hom' END",
            CATEGORICAL,
        )
    if encoding == "edge":
        if alpha is None:
            raise ValueError(
                "'edge_encoding_info' must be provided when using edge encoding"
            )
        return (
            f"CASE WHEN {c} IS NULL THEN CAST(NULL AS DOUBLE)"
            f" WHEN ({n_alt}) = 0.0D THEN 0.0D"
            f" WHEN ({n_alt}) = 1.0D THEN CAST({float(alpha)!r} AS DOUBLE)"
            f" ELSE 1.0D END",
            CONTINUOUS,
        )
    raise ValueError(f"Genotypes provided with unknown 'encoding': {encoding}")


def alt_count_fast(col: str, ref: str, alt: str) -> Column:
    """``alt_count`` with a literal fast path: the four canonical
    biallelic strings resolve by plain string equality (one comparison
    vs two ``split`` allocations per value — ~2x the GWAS encode scan);
    anything else (multi-char alleles already covered — the literals are
    built from ref/alt — but e.g. a third allele) falls back to the
    split-based count with identical semantics."""
    c = qcol(col)
    return (
        F.when(c == F.lit(f"{ref}/{ref}"), F.lit(0.0))
        .when((c == F.lit(f"{ref}/{alt}")) | (c == F.lit(f"{alt}/{ref}")), F.lit(1.0))
        .when(c == F.lit(f"{alt}/{alt}"), F.lit(2.0))
        .otherwise(alt_count(col, alt))
    )


def encode_genotype(
    col: str,
    ref: str,
    alt: str,
    encoding: str = "additive",
    alpha: float | None = None,
) -> tuple[Column, str]:
    """Return (encoded column expression, resulting CLARITE type).

    Mirrors the pandas-genomics encoders the reference dispatches to; the
    resulting type drives regression dispatch exactly like the reference's
    re-derivation of the encoded dtype (glm_regression.py:441-444).
    """
    sql, new_type = encode_genotype_sql(col, ref, alt, encoding, alpha)
    return F.expr(sql), new_type


def edge_alphas(edge_encoding_info) -> dict[str, float]:
    """Normalize an ``edge_encoding_info`` table — columns
    ``[Variant ID, Alpha Value]`` per pandas-genomics — to a {variant:
    alpha} dict. Accepts a pandas DataFrame, a Spark DataFrame (collected:
    one row per variant, tiny), or a plain mapping."""
    if isinstance(edge_encoding_info, dict):
        return {str(k): float(v) for k, v in edge_encoding_info.items()}
    import pandas as pd

    if isinstance(edge_encoding_info, pd.DataFrame):
        pdf = edge_encoding_info
    else:  # Spark DataFrame
        pdf = edge_encoding_info.toPandas()
    cols = {c.lower().replace(" ", "_"): c for c in pdf.columns}
    var_col = cols.get("variant_id") or cols.get("variant") or pdf.columns[0]
    alpha_col = cols.get("alpha_value") or cols.get("alpha") or pdf.columns[1]
    return {str(r[var_col]): float(r[alpha_col]) for _, r in pdf.iterrows()}
