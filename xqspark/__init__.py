"""xqspark — PySpark-native XML/HTML content-extraction engine.

A from-scratch re-expression of sibprogrammer/xq's per-document semantics
(beautify, XPath, CSS-selector, JSON conversion) as a pure-Python core
wrapped in vectorized Arrow/pandas UDFs over tables of Common-Crawl-style
pages.
"""

from . import _imports

_imports.install()

__version__ = "0.1.0"
