from .events import sessionize_stream, windowed_event_counts  # noqa: F401
