"""Query plans: batch/streaming-unified pipeline definitions.

``catalog`` holds the registry the driver contract (__spark_entry__.py)
exposes; importing the sibling modules registers their queries.
"""

from . import catalog  # noqa: F401


def load_all() -> None:
    """Import every query-defining module (registration side effects).

    The two LLM base modules load first: their queries lead the registry
    order, and other modules' oracles embed theirs."""
    from . import llm_queries  # noqa: F401
    from . import llm_scale_queries  # noqa: F401
    from . import analytics_ext_queries  # noqa: F401
    from . import corpus_ops_queries  # noqa: F401
    from . import dwd_queries  # noqa: F401
    from . import dws_queries  # noqa: F401
    from . import func_queries  # noqa: F401
    from . import llm_multimodal  # noqa: F401
    from . import llm_pipeline_queries  # noqa: F401
    from . import log_queries  # noqa: F401
    from . import round5_ext_queries  # noqa: F401
    from . import round6_ext_queries  # noqa: F401
    from . import round7_ext_queries  # noqa: F401
    from . import round8_ext_queries  # noqa: F401
    from . import round9_ext_queries  # noqa: F401
    from . import window_queries  # noqa: F401
