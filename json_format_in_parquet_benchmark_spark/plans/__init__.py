"""Query plan registry: every operator the engine claims is registered here
with (a) a Spark DataFrame builder and (b) where SQL-expressible, the exact
DuckDB oracle the driver cross-checks at sf0.01.  Import the submodules for
their registration side effects."""

from .registry import REGISTRY, Query, register  # noqa: F401

# Registration side effects -- each module adds its queries to REGISTRY.
from . import queries_json  # noqa: E402,F401
from . import queries_generator  # noqa: E402,F401
from . import queries_graph  # noqa: E402,F401
from . import queries_timeseries  # noqa: E402,F401
from . import queries_relational  # noqa: E402,F401
from . import queries_tpch  # noqa: E402,F401
from . import queries_text  # noqa: E402,F401
from . import queries_search  # noqa: E402,F401
from . import queries_sketches  # noqa: E402,F401
from . import queries_similarity  # noqa: E402,F401
from . import queries_embedding_stats  # noqa: E402,F401
from . import queries_multimodal  # noqa: E402,F401
from . import queries_udf  # noqa: E402,F401
from . import queries_sinks  # noqa: E402,F401
from . import queries_streaming  # noqa: E402,F401
from . import queries_formats  # noqa: E402,F401
from . import queries_dedup  # noqa: E402,F401
from . import queries_pipeline  # noqa: E402,F401
