"""Named, oracle-checked queries — the driver-contract surface.

Importing this package registers every query into
``core.registry.QUERIES`` / ``ORACLES`` / ``CONTRACT_BATCHES``, in
module import order.
"""

from ..core.registry import CONTRACT_BATCHES, ORACLES, QUERIES, family

from . import advanced  # noqa: F401
from . import analytics  # noqa: F401
from . import curation  # noqa: F401
from . import dedup  # noqa: F401
from . import images  # noqa: F401
from . import multimodal  # noqa: F401
from . import pipeline_queries  # noqa: F401
from . import quality  # noqa: F401
from . import relational  # noqa: F401
from . import similarity  # noqa: F401
from . import streaming_queries  # noqa: F401
from . import text  # noqa: F401
from . import timeseries  # noqa: F401  (registration side effect)

__all__ = ["QUERIES", "ORACLES", "CONTRACT_BATCHES", "family"]
