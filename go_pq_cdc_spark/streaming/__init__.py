from .changelog_stream import (  # noqa: F401
    file_change_stream,
    lookup_mirror,
    merge_mirror_batch,
    mirror_sink,
    multi_mirror_sink,
    read_mirror,
    read_mirror_as_of,
)
from .agg_view_stream import (  # noqa: F401
    read_agg_view,
    seed_agg_view_from_state,
    update_agg_view_from_log,
    update_agg_view_state,
)
from .kafka_sink import kafka_sink, kafka_sink_options, to_kafka_frames  # noqa: F401
from .topk_view_stream import read_topk_view, update_topk_view_state  # noqa: F401
from .txn_buffer import buffer_streamed_txns  # noqa: F401
