"""Sources and sinks: discovery, canonical readers, partitioned writers."""

from impresso_ta.sources.discovery import (  # noqa: F401
    alias_filter,
    date_filter,
    detect_issues,
    incremental_filter,
    walk_issues,
)
from impresso_ta.sources.readers import read_issues, read_pages  # noqa: F401
from impresso_ta.sources.sinks import (  # noqa: F401
    manifest_stats,
    write_errors,
    write_issues,
    write_pages,
    write_rebuilt,
)
