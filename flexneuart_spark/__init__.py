"""flexneuart_spark — a PySpark-native re-creation of FlexNeuART's classic
retrieval core (oaqa/FlexNeuART): distributed inverted-index build + BM25
top-k query engine, plus large-scale training-data pipeline operators.

Reference: /root/reference (read-only). This is a from-scratch Spark-first
design, not a port — see SURVEY.md for the semantic parity map.
"""

__version__ = "0.1.0"

from flexneuart_spark._pyworker import install as _install_pyworker

# every engine UDF imports this package, so each Python worker that runs
# one stops rescanning its import caches on every task (_pyworker.py)
_install_pyworker()
