"""Relational operators re-expressing the reference's merge/dedup logic."""

from .merges import related_merge, unrelated_merge  # noqa: F401
from .dedup import pick_one  # noqa: F401
