"""tsdownsample_spark — a PySpark-native time-series rollup / downsample /
retention engine.

Re-expresses the operator semantics of ``predict-idlab/tsdownsample``
(reference: /root/reference, v0.1.4.1) Spark-first:

- per-series downsampling selectors (MinMax, M4, LTTB, MinMaxLTTB, EveryNth,
  and their NaN-policy variants) as vectorized NumPy kernels driven through
  Arrow-batched pandas UDFs — one narrow map stage, no shuffle, for the
  token-table form;
- continuous-aggregate retention tiers (raw -> 1m -> 1h -> 1d) as cascaded
  decomposable Spark aggregations;
- gap-fill, delta-of-delta + Gorilla XOR compression codecs;
- checkpoint/resume with per-partition lineage + metrics over a
  Parquet+manifest table layer (Iceberg-shaped, jar-free locally);
- large-scale training-data ops: dedup (exact/MinHash-LSH/SimHash/embedding),
  ANN similarity search, text analysis, multimodal column plumbing.
"""

import sys

__version__ = "0.1.0"

# inside a Spark Python worker, stop every task from re-reading the zip
# archives on sys.path (plans/worker.py)
if "pyspark.worker_util" in sys.modules:
    from tsdownsample_spark.plans.worker import install as _install_worker_guard

    _install_worker_guard()

from tsdownsample_spark.compat import (  # noqa: F401
    EveryNthDownsampler,
    LTTBDownsampler,
    M4Downsampler,
    MinMaxDownsampler,
    MinMaxLTTBDownsampler,
    NaNM4Downsampler,
    NaNMinMaxDownsampler,
    NaNMinMaxLTTBDownsampler,
)
from tsdownsample_spark.kernels.selectors import (  # noqa: F401
    downsample_array,
    everynth,
    lttb,
    m4,
    minmax,
    minmaxlttb,
)

# the reference's public __all__ (tsdownsample/__init__.py), verbatim, plus
# the kernel-level functional API
__all__ = [
    "EveryNthDownsampler",
    "MinMaxDownsampler",
    "M4Downsampler",
    "LTTBDownsampler",
    "MinMaxLTTBDownsampler",
    "NaNMinMaxDownsampler",
    "NaNM4Downsampler",
    "NaNMinMaxLTTBDownsampler",
    "downsample_array",
    "minmax",
    "m4",
    "lttb",
    "minmaxlttb",
    "everynth",
]
