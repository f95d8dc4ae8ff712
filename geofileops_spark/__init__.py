"""geofileops_spark: a from-scratch PySpark-native spatial + training-data
analytics engine with the operator surface of geofileops/geofileops.

Public API: ``geofileops_spark.geoops`` (operator façade, reference
parity), ``geofileops_spark.session.get_spark`` (tuned session factory),
``geofileops_spark.functions.st`` (column-level ST_* functions).
"""

__version__ = "0.1.0"

from . import _worker  # noqa: E402

_worker.install()

from . import geoops  # noqa: F401,E402
from .cache import release_caches  # noqa: F401,E402
from .session import get_spark  # noqa: F401,E402
