"""Operators: decode chain, parse kernel, dedup, similarity, text
analysis, multimodal plumbing. Each module documents its reference
parity (file:line into /root/reference) and its 100 TB plan shape."""

from .decode import decode_records, explode_log_events, gzip_b64  # noqa: F401
from .dedup import (  # noqa: F401
    exact_dedup_groups,
    near_dup_pairs,
    normalized_dedup_groups,
    simhash_near_dup_pairs,
)
from .parse import parse_log_events, split_dlq  # noqa: F401
from .similarity import cosine_topk  # noqa: F401
