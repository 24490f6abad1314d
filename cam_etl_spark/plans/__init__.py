"""The query catalog, in registration order: catalog, then extensions,
then surface."""

from cam_etl_spark.plans.catalog import QUERIES, Query  # noqa: F401
import cam_etl_spark.plans.extensions  # noqa: F401,E402  (registers extension queries)
import cam_etl_spark.plans.surface  # noqa: F401,E402  (registers query-surface queries)
