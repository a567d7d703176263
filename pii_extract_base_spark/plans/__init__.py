"""Physical-plan inspection helpers.

The engine's scale guarantees are plan properties, not code comments:
filters/columns must reach the parquet scan, dimension joins must
broadcast, native stages must stay inside WholeStageCodegen, and each
Arrow UDF stage must receive only the columns it uses. These helpers
turn those properties into assertions (tests/test_explain_plan.py) and
reports (scripts/audit_plans.py).
"""

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The `explain("formatted")` text of a DataFrame's physical plan."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def count_nodes(plan: str, pattern: str) -> int:
    """Occurrences of a node/regex in a formatted plan."""
    return len(re.findall(pattern, plan))


def scan_read_schemas(plan: str) -> list:
    """ReadSchema column lists of every file scan in the plan."""
    return [m.group(1) for m in
            re.finditer(r"ReadSchema:\s*struct<([^>]*)>", plan)]


def pushed_filters(plan: str) -> list:
    """PushedFilters lists of every file scan (empty string = none)."""
    return [m.group(1).strip() for m in
            re.finditer(r"PushedFilters:\s*\[([^\]]*)\]", plan)]


def arrow_eval_inputs(plan: str) -> list:
    """Input column lists of each ArrowEvalPython stage (parsed from
    the detail sections of a formatted plan)."""
    out = []
    for m in re.finditer(
            r"\(\d+\) ArrowEvalPython\s*\nInput \[\d+\]: \[([^\]]*)\]",
            plan):
        out.append(re.findall(r"(\w+)#\d+", m.group(1)))
    return out


def arrow_eval_udfs(plan: str) -> list:
    """Result columns (one per hosted Python UDF) of each
    ArrowEvalPython stage."""
    return [re.findall(r"pythonUDF\d+", m.group(1)) for m in
            re.finditer(r"\(\d+\) ArrowEvalPython\s*\nInput [^\n]*\n"
                        r"Arguments: ([^\n]*)", plan)]
