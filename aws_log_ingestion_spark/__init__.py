"""PySpark-native parse -> enrich -> route -> aggregate log pipeline.

A from-scratch re-expression of the query/data-processing semantics of
``newrelic/aws-log-ingestion`` (reference at ``/root/reference``) as a
distributed Spark DataFrame job over transcript tables with columns
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``.

Entity mapping (see SURVEY.md §1.3):
  * one CloudWatch log entry  == one conversation (``conv_id`` group)
  * one log event             == one turn (``conv_id``, ``turn_idx``)
  * ``logGroup`` prefix        == ``tool``-derived ``log_group`` column
  * lambda execution context  == broadcast lookup keyed ``(conv_id, tool)``

Everything is expressed with the DataFrame/SQL API so Catalyst handles
predicate pushdown, column pruning and join planning. Python runs only in
Arrow-batched UDFs, defined in six modules: the gzip trace-id decode
(functions/tracing.py), the chunk-split replay (functions/chunking.py,
operators/chunks.py), the envelope gunzip (sources/envelope.py) and the
media decoders (operators/multimodal.py, operators/jpeg.py).

Importing the package installs ``functions.zipcache``. A Python worker
imports it when it unpickles any of those UDFs, so from then on its
tasks stop re-reading pyspark's zip archives on every task start.
"""

from .functions import zipcache

zipcache.install()

__version__ = "0.1.0"
