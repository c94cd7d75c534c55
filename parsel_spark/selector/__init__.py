"""From-scratch, dependency-free selector core (the "parsel semantics"
engine): tolerant HTML/XML parsing, XPath 1.0 + EXSLT evaluation, CSS →
XPath translation and the ``Selector``/``SelectorList`` API.

This package is pure Python + stdlib (plus the optional ``jmespath``
library) so it ships cleanly to Spark executors via ``--py-files`` and
runs inside vectorized Arrow UDFs.
"""

from .css import ExpressionError, SelectorSyntaxError, css2xpath
from .selector import (
    LXML_SUPPORTS_HUGE_TREE,
    SUPPORTS_HUGE_TREE,
    CannotDropElementWithoutParent,
    CannotRemoveElementWithoutParent,
    CannotRemoveElementWithoutRoot,
    Selector,
    SelectorList,
    _NOT_SET,
)
from .utils import extract_regex, flatten, iflatten, shorten
from .xpath import set_xpathfunc, setup

setup()

__all__ = [
    "Selector",
    "SelectorList",
    "css2xpath",
    "set_xpathfunc",
    "extract_regex",
    "flatten",
    "iflatten",
    "shorten",
    "ExpressionError",
    "SelectorSyntaxError",
    "CannotRemoveElementWithoutRoot",
    "CannotRemoveElementWithoutParent",
    "CannotDropElementWithoutParent",
    "SUPPORTS_HUGE_TREE",
    "LXML_SUPPORTS_HUGE_TREE",
]
