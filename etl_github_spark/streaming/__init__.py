from .dedup import stream_dedup_exact  # noqa: F401
from .joins import stream_stream_interval_join  # noqa: F401
from .pipeline import stream_windowed_counts  # noqa: F401
