"""PySpark-native time-series rollup + downsample + retention engine.

A from-scratch re-expression of the query/data-processing capabilities of
``gregory-halverson/ECOv003-L2T-STARS`` (a scientific per-tile/per-date
fusion pipeline) as an idiomatic Spark engine over multi-turn
conversation/agent transcript tables with schema
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``.

Reference parity map (see SURVEY.md for the full inventory):

- per-date raster slices on a dense daily calendar
  (``process_ECOSTRESS_data_fusion_distributed_bias.jl:146-179``)
  → tumbling-window tier rollups + ``sequence``/``explode`` gap-fill
- pixelwise Bayesian fusion with checkpointed prior state
  (``load_prior.py``, fusion jl:350-393) → grouped-map pandas-UDF
  Kalman smoothing of each conv's full history from the default prior
  (batch), and a prior/posterior carried in Spark's state store
  (streaming)
- trailing 16-day BRDF regression (``VNP43NRT_jl/src/VNP43NRT.jl:310-394``)
  → trailing-window weighted least squares operator
- filename-keyed idempotent staging (``VNP43NRT/VNP43NRT.py:390-397``)
  → per-partition checkpoint table + idempotent tier writes
"""

__version__ = "0.1.0"

from pyspark.sql import Column
from pyspark.sql import functions as F

from ecov003_l2t_stars_spark.session import get_spark  # noqa: F401

TIERS = ("1m", "1h", "1d", "30d")

TIER_SECONDS = {
    "1m": 60,
    "1h": 3600,
    "1d": 86400,
    "30d": 30 * 86400,
}


def conv_bucket(n_buckets: int) -> Column:
    """The ``conv_bucket`` partition transform, ``pmod(xxhash64(conv_id),
    n_buckets)`` (the Iceberg ``bucket(N, conv_id)`` analog). Ingest
    manifests, pipeline checkpoints and engine table partitions all
    derive it here, so ``plans.ingest.backlog`` can join them."""
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")

