"""PySpark-native information-theoretic feature-selection engine.

A from-scratch rebuild of the capabilities of
``sramirez/flink-infotheoretic-feature-selection`` (reference surveyed in
/root/repo/SURVEY.md), expressed Spark-first:

- DataFrame/SQL for everything Catalyst can optimize (scans, filters,
  projections, group-counts, top-k, broadcast joins).
- A cached columnar uint8 block layout (``operators.packed``) for the
  histogram passes that power MI/CMI — at most one tiny shuffle per pass
  (map-side combined contingency tables), never a data-sized shuffle.
- A driver-side greedy loop holding per-feature criterion state
  (``functions.criteria``) — the Spark analogue of Flink bulk iteration.

Beyond reference parity, ``operators.dedup`` / ``operators.similarity`` /
``operators.text`` / ``operators.multimodal`` add the LLM-training-data
pipeline surface (near-dedup, ANN search, text QA, multimodal plumbing).
"""

from flink_infotheoretic_feature_selection_spark.selector import InfoThSelector, InfoThSelectorModel
from flink_infotheoretic_feature_selection_spark.discretizer import (
    EqualFrequencyDiscretizer,
    EqualFrequencyDiscretizerModel,
)

__all__ = [
    "InfoThSelector",
    "InfoThSelectorModel",
    "EqualFrequencyDiscretizer",
    "EqualFrequencyDiscretizerModel",
]
