"""clarite_python_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of HallLab/clarite-python.

CLARITE ("CLeaning to Analysis: Reproducibility-based Interface for Traits
and Exposures") is an epidemiology / EWAS analysis library: a pipeline of
dataframe QC operators (load -> modify -> describe) feeding a
mass-regression engine (analyze) that fits one GLM per candidate variable.
This package re-expresses those semantics Spark-first:

- lazy ``pyspark.sql.DataFrame`` plans everywhere (Catalyst prunes/pushes),
- a ``VariableCatalog`` carrying the CLARITE semantic type taxonomy
  (constant/binary/categorical/continuous/unknown) per column,
- the statistical fan-out as batched aggregations plus a
  ``groupBy(variable block) -> applyInPandas(numpy GLM kernel)`` tail
  with broadcast design constants,
- batched single-pass aggregations for every column-statistic operator
  (one scan regardless of column count),
- plus large-scale training-data-pipeline extensions: dedup (exact /
  MinHash-LSH / SimHash / n-gram Jaccard), embedding similarity search,
  text analysis, and multimodal column plumbing.

Reference parity citations in docstrings point into /root/reference
(HallLab/clarite-python) as ``file:line``.
"""

from clarite_python_spark.catalog import ClariteFrame, VariableCatalog
from clarite_python_spark.session import get_spark

from clarite_python_spark import operators  # noqa: F401
from clarite_python_spark.operators import (  # noqa: F401
    analyze,
    dedup,
    describe,
    evaluation,
    events,
    graph,
    joins,
    layout,
    modify,
    multimodal,
    pipeline,
    similarity,
    text,
)
from clarite_python_spark.sources import io as load  # noqa: F401
from clarite_python_spark import streaming  # noqa: F401
from clarite_python_spark import plot  # noqa: F401
from clarite_python_spark import survey  # noqa: F401
from clarite_python_spark.survey import SurveyDesignSpec  # noqa: F401

__version__ = "0.1.0"

__all__ = [
    "ClariteFrame",
    "SurveyDesignSpec",
    "VariableCatalog",
    "get_spark",
    "load",
    "modify",
    "plot",
    "describe",
    "analyze",
    "evaluation",
    "events",
    "dedup",
    "graph",
    "joins",
    "multimodal",
    "layout",
    "pipeline",
    "similarity",
    "streaming",
    "survey",
    "text",
]
