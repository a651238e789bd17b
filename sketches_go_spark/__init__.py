"""sketches_go_spark — a PySpark-native distributed sketch / approximate
aggregation library.

Built from scratch against the *behavior* of DataDog/sketches-go (DDSketch)
plus the standard companion sketches (HLL, count-min, KLL, t-digest, Bloom),
re-expressed Spark-first:

- the hot build path is pure Catalyst (``F.floor(F.log(col)*mult)`` bins-as-rows,
  whole-stage codegen, map-side partial aggregation),
- the composable path is a mergeable sketch *value* (fixed StructType row)
  produced by Arrow-batched pandas UDFs with an explicit two-phase
  partial→shuffle→merge topology,
- skewed group keys are handled with explicit salting,
- jobs checkpoint per-partition encoded partials and resume by decode-and-merge.

Importing the package inside a PySpark task runs a one-time worker bootstrap
(:mod:`sketches_go_spark.worker_bootstrap`): the reused Python worker stops
re-reading ``pyspark.zip``'s directory and re-scanning its import-time
objects on every task.  It changes nothing in the driver.

No code is copied from the reference; reference files are cited in docstrings
(file:line) purely to document behavioral parity.
"""

__version__ = "0.1.0"

from sketches_go_spark.core.mapping import (  # noqa: F401
    CubicallyInterpolatedMapping,
    LinearlyInterpolatedMapping,
    LogarithmicMapping,
    mapping_from_params,
)
from sketches_go_spark.core.ddsketch import DDSketch, DDSketchConfig  # noqa: F401
from sketches_go_spark.core.encoding import (  # noqa: F401
    decode_sketch,
    encode_sketch,
)
from sketches_go_spark.core.protobuf import (  # noqa: F401
    DDSketchProtoBuilder,
    decode_proto,
    encode_proto,
)
from sketches_go_spark.worker_bootstrap import bootstrap as _bootstrap_worker

_bootstrap_worker()
