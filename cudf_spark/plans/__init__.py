"""Physical-plan introspection utilities."""

from cudf_spark.plans.audit import scale_audit  # noqa: F401
from cudf_spark.plans.nodes import plan_nodes  # noqa: F401
