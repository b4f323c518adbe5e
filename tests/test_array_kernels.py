"""One idiom for array kernels: every higher-order function in the
package (``transform``, ``aggregate``, ``zip_with``, ``filter``,
``exists``, ``forall``) is parsed SQL text, not a DataFrame-API call
with a Python lambda. The lambda form builds its Column tree one py4j
round trip per node (``repetition_signals`` took 9,743 calls that way,
126 parsed). ``probes.py`` is exempt: its ``q83_array_hof`` exists to
exercise the DataFrame HOF API."""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "big_data_hadoop_spark"
LAMBDA_HOF = re.compile(r"\bF\.(transform|aggregate|zip_with|filter|exists|forall)\(")


def test_no_python_lambda_higher_order_functions():
    sites = [
        f"{path.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "probes.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if LAMBDA_HOF.search(line)
    ]
    assert not sites, "\n".join(sites)
