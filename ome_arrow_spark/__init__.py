"""ome_arrow_spark — a PySpark-native analytics engine with the
capabilities of WayScience/ome-arrow, re-expressed Spark-first.

Two halves (see SURVEY.md):

1. Format half: the OME-Arrow nested struct schema (one 5D microscopy
   image per row) with ingest / export / transform / describe / validate
   re-expressed as DataFrame operators over *many* images at once.
2. Query half: the relational surface the reference delegates to
   downstream engines — scans, joins, aggregates, windows, set ops,
   streaming — plus large-scale training-data ops (dedup, similarity
   search, text analysis, multimodal columns).

Everything is DataFrame/SQL-first: Catalyst plans, whole-stage codegen,
nested-schema pruning. Python UDFs (codecs, numpy vector kernels)
exchange Arrow batches through ``mapInArrow`` / ``arrow_udf``.
"""

from ome_arrow_spark.core import OmeImages
from ome_arrow_spark.meta import (
    OME_ARROW_TYPE,
    OME_ARROW_VERSION,
    ome_arrow_struct,
    ome_images_schema,
)
from ome_arrow_spark.session import cluster_defaults, get_spark, tune_session

__all__ = [
    "OME_ARROW_TYPE",
    "OME_ARROW_VERSION",
    "OmeImages",
    "ome_arrow_struct",
    "ome_images_schema",
    "cluster_defaults",
    "get_spark",
    "tune_session",
]

__version__ = "0.1.0"
