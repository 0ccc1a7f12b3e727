"""The engine's named query suite — SURVEY.md §2 operator inventory
re-expressed over the driver's star schema, each with an ANSI-SQL
oracle twin for the DuckDB correctness gate.

Exactness contract (why results hash-match bit-for-bit across
engines and partitionings):

- sums of money-like doubles go through `CAST(x AS DECIMAL(18,4))`
  — decimal addition is exact and order-independent, then one
  deterministic cast back to double;
- "score" columns are integer-valued doubles (`FLOOR(x*1000)`), so
  their sums/averages are exact in double precision;
- rank statistics (AUROC) only depend on score *order* plus sums of
  integers/halves — exact below 2^53;
- rounded outputs (stddev, cosine/fusion scores, ln-based terms —
  tf-idf, surprisal, KL, MI — EWMA, correlations, OLS trends) round
  to 4-9 digits where accumulation order or libm last-ulp genuinely
  differs; ln-term and dot-product SUMS route through DECIMAL casts
  first so only the final scalar step carries FP;
- rounded values must not be able to land ON a decimal boundary:
  finite-decimal weights over finite-decimal inputs do exactly that,
  and Spark/DuckDB round such doubles in different directions (the
  q133 EWMA lesson — its alpha is 1/3 for this reason).

Spark-version coupling: the streaming hash oracles
(q88/q89/q90/q96/q99/q180/q196/q201/q231/q236/q245) replay
engine-specific micro-batch behavior in SQL — a single-file backlog
processed as ONE batch under availableNow, ms-floored watermark
arithmetic, and the strict-vs-nonstrict eviction/timeout boundaries
calibrated in tests/test_stream_eviction_frontier.py and
tests/test_statestore_audit.py. A Spark upgrade or a multi-file
events source can flip emitted sets with the engine still CORRECT;
after any Spark bump, run those two calibration test files first
and re-derive the frontier rules before trusting a red gate.

Each lane module registers its builders, with their oracles, in
`suite.registry` when it is imported; importing this package imports
them all. The registry orders nothing: the entry adapter
(`__spark_entry__.queries`) puts the committed rotation sample first.
"""

from patientdataintegration_spark.suite import (  # noqa: F401 - registers the lanes
    core,
    ext,
    ext2,
    ext3,
    ext4,
    ext5,
    ext6,
    ext7,
    ext8,
    ext9,
    ext10,
    ext11,
    ext12,
)
from patientdataintegration_spark.suite.registry import ORACLES, QUERIES  # noqa: F401
