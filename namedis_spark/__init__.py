"""namedis_spark — a from-scratch PySpark-native entity-resolution engine.

Re-creates the query/data-processing capabilities of askerlee/namedis
(ECML/PKDD 2012 author-name disambiguation via the CSLR categorical
similarity), retargeted to tables of multi-turn conversation/agent
transcripts (conv_id, turn_idx, role, text, tool, ts).

Pipeline shape (SURVEY.md §7): per-conversation feature extraction →
blocking on normalized keys (salted for skew) → batched pandas-UDF
pairwise scoring (CSLR + Jaro-Winkler + TF-IDF cosine + taxonomy
overlap) → threshold → iterative large-star/small-star connected
components, checkpointed per round for resumability.
"""

import sys as _sys

__version__ = "0.1.0"


def _in_python_worker() -> bool:
    # a PySpark worker has a TaskContext while it unpickles a task's UDFs,
    # which is when it imports this package; the driver never has one, and
    # a process that has not loaded pyspark is no worker
    tc = _sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None


if _in_python_worker():
    from namedis_spark import _zipgate

    _zipgate.install()
