"""Scalar column functions: ids, whitespace/tokenization."""

from impresso_ta.functions.ids import (  # noqa: F401
    issue_id_col,
    page_id_col,
    ci_id_col,
    parse_canonical_id,
)
from impresso_ta.functions.whitespace import (  # noqa: F401
    WHITESPACE_RULES,
    insert_whitespace,
)
