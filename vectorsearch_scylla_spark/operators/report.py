"""The retrain-report contract (r13 VERDICT task 7).

``maybe_retrain`` (IVF, ``operators/ivf.py``) returns one report dict
per maintenance day, and the streaming maintenance ladder collects them
in ``state["reports"]``.  This module fixes the keys every report
carries, so a tool comparing maintenance days needs no key map:

================  ======  ==============================================
key               type    meaning
================  ======  ==============================================
``fired``         bool    a retrain executed this day (and, unless
                          ``rolled_back``, was adopted)
``rolled_back``   bool    the rollback rail rejected the retrain — the
                          pre-day model stands; ``metric_after`` carries
                          the REJECTED measurement
``budget``        float   the trigger threshold, in ``audit_metric``
                          units
``audit_metric``  str     what ``metric_before``/``metric_after``
                          measure: ``"id_set"`` (id-set recall@k) or
                          ``"tie_aware"`` (tie-tolerant precision)
``metric_before`` float?  the entry audit (None: audit drew no pairs)
``metric_after``  float?  the post-retrain audit (None: not audited —
                          ``audit_after=False`` deployments audit the
                          persisted artifact instead)
================  ======  ==============================================

Family diagnostics ride alongside under their own names (``nprobe`` /
``k_before``/``k_after``, ``k``, ``n_audit_pairs``, ``n_corpus``) —
useful, but NOT the contract.  The pre-r14 spellings (``retrained``,
``recall_budget``, ``recall_before``, ``recall_after``) remain as
read-only aliases for existing consumers; writers must keep alias and
contract key in sync.
"""

from __future__ import annotations


def retrain_report(
    *,
    fired: bool,
    budget: float,
    audit_metric: str,
    metric_before: float | None,
    metric_after: float | None = None,
    rolled_back: bool = False,
    **extras,
) -> dict:
    """Build a contract-conforming retrain report.  ``extras`` are the
    family diagnostics; legacy aliases are derived here so every
    report is born consistent (mutating callers must update alias and
    contract key together)."""
    return {
        "fired": bool(fired),
        "rolled_back": bool(rolled_back),
        "budget": float(budget),
        "audit_metric": str(audit_metric),
        "metric_before": metric_before,
        "metric_after": metric_after,
        # legacy family spellings (pre-r14 consumers)
        "retrained": bool(fired),
        "recall_budget": float(budget),
        "recall_before": metric_before,
        "recall_after": metric_after,
        **extras,
    }
