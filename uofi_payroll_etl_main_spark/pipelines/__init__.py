"""End-to-end dataflows (SURVEY.md section 3): PUA and CPA.

Each pipeline builds ONE lazy DataFrame plan from sources to the output
contract, one projection per stage -- Catalyst sees the whole chain, so
filters/projections push into the scans and each broadcast dim ships
once.  The reference executes the same chain eagerly statement-by-
statement with a full materialization per step
(etl_payroll_pipeline.py:235-380, :433-591).

Building `run_cpa` starts no Spark job.  Building `run_pua` starts the
jobs of its three `safe_merge_left` guards, which check eagerly that
each dimension key is unique: they are input checks, so like the
reference's (:226-232) they warn when the join is built, before any
output is written.
"""

from .pua import run_pua
from .cpa import run_cpa

__all__ = ["run_pua", "run_cpa"]
