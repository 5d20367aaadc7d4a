"""Stdlib shims that make the reference crawlers importable in this
container (no parsel/lxml, tenacity, or demjson3 wheels available) so
the parity tests can run the REAL reference parsers on shared fixtures.

``install()`` registers:
  * ``parsel``   — Selector/SelectorList over our stdlib-html.parser DOM
                   with an XPath-subset evaluator covering every
                   expression the reference uses (parselshim.py);
  * ``tenacity`` — no-op retry (parsers never fetch; fetch semantics are
                   contract-tested separately in test_http_fetch.py);
  * ``demjson3`` — lenient JS-object decode backed by the engine's
                   _lenient_js_loads twin.

The shims are registered ONLY if the real package is absent, so on a
machine with the actual wheels the parity tests exercise the reference
verbatim.
"""

from __future__ import annotations

import importlib.util
import sys


def install() -> None:
    try:
        import parsel  # noqa: F401
    except ImportError:
        from . import parselshim

        sys.modules["parsel"] = parselshim

    try:
        import tenacity  # noqa: F401
    except ImportError:
        from . import tenacityshim

        sys.modules["tenacity"] = tenacityshim

    try:
        import demjson3  # noqa: F401
    except ImportError:
        from . import demjsonshim

        sys.modules["demjson3"] = demjsonshim

    if "/root/reference" not in sys.path:
        sys.path.insert(0, "/root/reference")


def reference_available() -> bool:
    """Whether the reference crawler checkout is importable (``install``
    puts it on ``sys.path``).  The tests that run the reference parsers
    or read its fixtures skip when it is not."""
    install()
    return importlib.util.find_spec("news_crawler") is not None
