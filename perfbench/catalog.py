#!/usr/bin/env python3
"""Module of every declared query, read from SparkEntry.scala.

The module of a query is the first operator module its `SparkEntry.queries`
closure calls (a closure that calls two modules is assigned to the first),
or `SparkEntry` when the closure is inline DataFrame code.
The map literal is parsed with `tools/gen_catalog.py`'s parser. The JVM
side (perfbench/scala/Catalog.scala) adds the workload from the query's
oracle SQL and refuses to run unless every declared query lands in exactly
one workload.

Usage: python3 perfbench/catalog.py
  (prints name<TAB>module<TAB>layout functions: the Runner's --modules file)
"""
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))
import gen_catalog  # noqa: E402

MODULES = ("TradingOps", "TimeSeriesOps", "Backtest", "Analytics",
           "GraphOps", "Dedup", "Similarity", "TextAnalysis", "Multimodal",
           "EventStreams")
CALL = re.compile(r"\b(" + "|".join(MODULES) + r")\.\w")
# the build-once layout functions (Tables.*For, Similarity.*LayoutFor)
LAYOUT = re.compile(r"\b(bucketedCandlesFor|zorderedEventsFor|cellLayoutFor|"
                    r"appendedCellLayoutFor)\b")


def modules():
    """{query: (module, layouts)}, layouts being the build-once layout
    functions the closure calls; exits if a query name is declared twice."""
    src = gen_catalog.ENTRY.read_text()
    out = {}
    for name, body in gen_catalog.entries(gen_catalog.block(src,
                                                            "def queries")):
        if name in out:
            raise SystemExit(f"catalog: query {name} is declared twice")
        code = re.sub(r"//[^\n]*", "", body)
        m = CALL.search(code)
        out[name] = (m.group(1) if m else "SparkEntry",
                     sorted(set(LAYOUT.findall(code))))
    return out


def lines():
    return "".join(f"{q}\t{m}\t{','.join(ls)}\n"
                   for q, (m, ls) in sorted(modules().items()))


if __name__ == "__main__":
    print(lines(), end="")
