"""colonnade_spark — a from-scratch PySpark-native per-column
lightweight-compression engine (dict, RLE, FSST, bit-pack,
frame-of-reference) with codec auto-selection.

Semantics derive from byteverse/colonnade (read-only reference at
/root/reference): per-column encoder/decoder combinators, two-pass
stats-then-encode, round-trip isomorphism as the correctness oracle.
Architecture is Spark-first: declarative DataFrame shell planned by Catalyst,
codec kernels as vectorized numpy inside mapInArrow/applyInPandas.
"""

__version__ = "0.1.0"

import os as _os

# Spark sets this secret in the environment of every Python worker it
# starts (daemon-forked or not, RDD and Arrow alike) and never in the
# driver; program UDFs import this package when they are unpickled
if "PYTHON_WORKER_FACTORY_SECRET" in _os.environ:
    from . import shipping as _shipping

    _shipping.cache_zip_directories()
    _shipping.freeze_import_heap()
