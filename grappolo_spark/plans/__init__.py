"""Execution-plan utilities: execution tiers, lineage control, superstep
checkpoints, skew salting."""

from grappolo_spark.plans.iteration import SuperstepRunner, cut_lineage
from grappolo_spark.plans.salting import salted_sum

__all__ = ["SuperstepRunner", "cut_lineage", "salted_sum"]
