"""Structured Streaming surface: event-time windows, watermarks,
checkpointed micro-batch sinks (SURVEY §2.9)."""

from .windows import (  # noqa: F401
    tumbling_counts,
    sliding_counts,
    session_counts,
    stream_dedup,
)
from ._store import await_or_die  # noqa: F401
from .micro_batch import (  # noqa: F401
    file_stream,
    two_sink_foreach_batch,
    resume_anti_join,
)
from .stateful import stateful_running_counts  # noqa: F401
from .joins import interval_join  # noqa: F401
from .near_dedup import stream_near_dedup  # noqa: F401
from .semantic import semantic_dedup_epoch, stream_semantic_dedup  # noqa: F401
from .segments import stream_segment_dedup  # noqa: F401
from .substrings import stream_substring_dedup  # noqa: F401
from .image_dedup import stream_image_dedup  # noqa: F401
from .sharding import stream_pack_shards  # noqa: F401
from .export import stream_export_training_set  # noqa: F401
from .link_graph import (  # noqa: F401
    current_ranks,
    link_graph_epoch,
    page_link_edges,
    refresh_ranks,
    stored_edges,
    stream_link_graph,
)
