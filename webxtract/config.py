"""Run-level configuration: the default run date and the Arrow batch size.

The reference calls ``datetime.now()`` in ~20 places (e.g.
``app/services/validators/document_expiry.py:32``); for deterministic,
re-runnable jobs every "now" becomes one frozen ``run_date`` parameter
(SURVEY.md §7.4.3). Rule and heuristic thresholds are fixed constants in
the one module that reads each: the minimum age in
``ops.validators``, the block-length and link-density cut-offs in
``ops.extract_html``.
"""

from __future__ import annotations

# Frozen "today" for all date arithmetic (expiry, age, ...). Override per
# run with ``cli --run-date`` or an entry point's ``run_date=``.
DEFAULT_RUN_DATE: str = "2026-01-15"

# Arrow batch size for the extraction UDFs. HTML blobs are KB–MB sized;
# the Spark default of 10k rows/batch would make multi-hundred-MB batches
# at 100TB-scale inputs (SURVEY.md §4.3.2).
ARROW_MAX_RECORDS_PER_BATCH: int = 512
