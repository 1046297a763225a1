from . import (  # noqa: F401
    dedup, intervals, multimodal, replay_ops, similarity, stats, text)
