"""parsel_spark — a PySpark-native crawl/extraction analytics engine.

Layers:

* ``parsel_spark.selector`` — pure-Python selector core (HTML/XML parse,
  XPath 1.0, CSS translation) with the reference's query semantics.
* ``parsel_spark.functions`` — vectorized Arrow UDFs + URL
  canonicalization/hashing column functions.
* ``parsel_spark.operators`` — distributed operators: bloom/cuckoo
  seen-sets, frontier dedup, politeness, robots, dedup/similarity.
* ``parsel_spark.sources`` — deterministic synthetic data generators and
  the snapshot (Iceberg-emulated) catalog.
* ``parsel_spark.plans`` — the crawl-wave planner and the single-process
  oracle crawler used for exact-parity verification.
"""

from . import _zipimport
from .selector import Selector, SelectorList, css2xpath, set_xpathfunc

_zipimport.install()

__version__ = "0.1.0"

__all__ = ["Selector", "SelectorList", "css2xpath", "set_xpathfunc", "__version__"]
