"""Run-level configuration.

The reference calls ``datetime.now()`` in ~20 places (e.g.
``app/services/validators/document_expiry.py:32``); for deterministic,
re-runnable jobs every "now" becomes one frozen ``run_date`` parameter
(SURVEY.md §7.4.3).
"""

from __future__ import annotations

# Frozen "today" for all date arithmetic (expiry, age, ...). Override per
# run with ``cli --run-date`` or an entry point's ``run_date=``.
DEFAULT_RUN_DATE: str = "2026-01-15"

# Minimum age requirement for the age validator
# (reference: app/services/validation_service.py:104-116, default 18).
DEFAULT_MINIMUM_AGE: int = 18

# Extraction heuristics (HTML main-content classifier).
MIN_BLOCK_CHARS: int = 8        # drop non-heading blocks shorter than this
MAX_LINK_DENSITY: float = 0.5   # drop blocks whose link-char ratio >= this

# Arrow batch size for the extraction UDFs. HTML blobs are KB–MB sized;
# the Spark default of 10k rows/batch would make multi-hundred-MB batches
# at 100TB-scale inputs (SURVEY.md §4.3.2).
ARROW_MAX_RECORDS_PER_BATCH: int = 512
