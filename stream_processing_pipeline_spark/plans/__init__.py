"""Query plans: the engine's registered query set.

Every query is a named pair (Spark callable, DuckDB oracle SQL) registered in
:mod:`.registry`; the driver contract (``__spark_entry__.py``) exposes them
verbatim, in gate order (least recently gated first, see :mod:`.registry`).
Modules:

- :mod:`.registry`    — ``Query``, ``@register`` and the gate-order reader
- :mod:`.common`      — shared Spark/DuckDB-SQL helpers for query definitions
- :mod:`.transforms`  — the six reference transformations as DataFrame functions
- :mod:`.parity`      — the six reference queries (SURVEY.md §2.10) on the
  synthetic ``events`` star schema, plus their spec-compiled twins
- :mod:`.batch`       — batch analytics: TPC-H-style aggregation/join/top-k,
  analytic window functions, set ops, interval joins
- :mod:`.streamq`     — streaming operators beyond tumbling windows
- :mod:`.dedupq`      — deduplication suite over ``documents``
- :mod:`.textq`       — text-analysis suite over ``documents``
- :mod:`.similarq`    — embedding similarity search over ``embeddings``
- :mod:`.multimodalq` — multimodal binary-column plumbing queries
- :mod:`.tpchx`       — the remaining partsupp-free TPC-H shapes
- :mod:`.histq`       — mergeable-histogram distribution analytics
- :mod:`.scalex`      — join-shuffle reduction and skew mitigation
- :mod:`.analyticsx`  — robust stats, time-series diagnostics, funnels,
  mixture weighting, sketch-accuracy and embedding-fidelity audits
"""

from .registry import REGISTRY, Query, all_oracles, all_queries, register
from .registry import gate_evidence, gate_order

from . import parity  # noqa: E402,F401  (imports populate the registry)
from . import batch  # noqa: E402,F401
from . import streamq  # noqa: E402,F401
from . import dedupq  # noqa: E402,F401
from . import textq  # noqa: E402,F401
from . import similarq  # noqa: E402,F401
from . import multimodalq  # noqa: E402,F401
from . import tpchx  # noqa: E402,F401
from . import histq  # noqa: E402,F401
from . import scalex  # noqa: E402,F401
from . import analyticsx  # noqa: E402,F401

__all__ = ["REGISTRY", "Query", "register", "all_queries", "all_oracles"]

# Gate order (see .registry): least recently gated first.
_reordered = {n: REGISTRY[n] for n in gate_order(REGISTRY, gate_evidence())}
REGISTRY.clear()
REGISTRY.update(_reordered)
del _reordered
