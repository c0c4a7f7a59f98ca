"""High-watermark progress store — the resume protocol of the reference.

Semantics preserved exactly (SURVEY.md §4 quirks 3-4):
- single line ``YYYY-MM-DD`` (`audit_data_ingest.py:71-73`),
- missing file ⇒ ``None`` ⇒ full reprocess with a warning (`:227-230`),
- malformed date ⇒ hard error (`:220-226`),
- resume comparison is strictly greater — the committed day is never
  reprocessed (`:33`).

Each function's docstring records its one deliberate deviation.
"""

from __future__ import annotations

import logging
import os
import uuid
from datetime import date, datetime
from pathlib import Path

logger = logging.getLogger(__name__)

_FMT = "%Y-%m-%d"


def find_start_date(progress_file: str | Path) -> date | None:
    """Read the last committed day; None means process everything
    (`audit_data_ingest.py:213-232`).

    Deviation: the reference treats any ``IOError`` as a missing file
    (`:227-230`), so a permission or I/O error silently re-ingests the whole
    history. Here only ``FileNotFoundError`` means "no watermark"; any other
    ``OSError`` propagates."""
    path = Path(progress_file)
    try:
        text = path.read_text().strip()
    except FileNotFoundError:
        logger.warning("progress file %s not found; processing all data", path)
        return None
    try:
        return datetime.strptime(text, _FMT).date()
    except ValueError as e:
        raise ValueError(
            f"progress file {progress_file} contains invalid date {text!r}"
        ) from e


def update_progress_file(progress_file: str | Path, completed_date: date) -> None:
    """Commit a completed day — called only after the whole day succeeded
    (`audit_data_ingest.py:65-68,71-73`).

    Deviation: the reference truncates the file in place, so a crash
    mid-write leaves an empty or partial watermark. Here the day is written
    and synced to a temp file in the same directory, then ``os.replace``d
    over the old one: a failure at any point leaves the previous watermark
    readable and unchanged."""
    path = Path(progress_file)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(f".{path.name}.tmp.{uuid.uuid4().hex}")
    try:
        with open(tmp, "w") as f:
            f.write(completed_date.strftime(_FMT))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)  # the one atomic step
    except BaseException:
        tmp.unlink(missing_ok=True)
        raise
