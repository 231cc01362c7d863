"""Every package module must import without an active SparkContext:
a spark-submit driver imports the plans/operators it needs BEFORE
calling SparkSession.builder.getOrCreate(), so module-level Column
construction (e.g. F.lit at import time) is a crash in the normal
import order. Regression for the _BIT_MASKS incident: a module-level
F.array(F.lit(...)) in operators/contamination.py broke
`import htmlparser2_spark.plans.curate_job` on a cold interpreter.
"""

import ast
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent


def test_all_modules_import_without_spark_context():
    pkg = REPO / "htmlparser2_spark"
    modules = sorted(
        ".".join(p.relative_to(REPO).with_suffix("").parts)
        for p in pkg.rglob("*.py")
        if p.name != "__init__.py"
    )
    assert modules, "package layout moved?"
    code = "import importlib\n" + "\n".join(
        f"importlib.import_module({m!r})" for m in modules
    )
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


# pandas boundaries that have an Arrow form (arrow_udf, mapInArrow,
# applyInArrow). applyInPandasWithState has none, so streaming/stateful.py
# is the one module that may use pandas.
_PANDAS_CALLS = {"pandas_udf", "mapInPandas", "applyInPandas"}
_PANDAS_ALLOWED = {"htmlparser2_spark/streaming/stateful.py"}


def _pandas_uses(tree) -> list[str]:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            found += [a.name for a in node.names if a.name.split(".")[0] == "pandas"]
        elif isinstance(node, ast.ImportFrom):
            if (node.module or "").split(".")[0] == "pandas":
                found.append(node.module)
        elif isinstance(node, ast.Attribute) and node.attr in _PANDAS_CALLS:
            found.append(node.attr)
        elif isinstance(node, ast.Name) and node.id in _PANDAS_CALLS:
            found.append(node.id)
    return found


def test_no_pandas_layer_outside_stateful_streaming():
    """Every Python boundary of the package is Arrow: no module but
    streaming/stateful.py imports pandas or uses a pandas UDF form."""
    offenders = {}
    for path in sorted((REPO / "htmlparser2_spark").rglob("*.py")):
        rel = path.relative_to(REPO).as_posix()
        uses = _pandas_uses(ast.parse(path.read_text(), rel))
        if uses and rel not in _PANDAS_ALLOWED:
            offenders[rel] = uses
    assert offenders == {}
    assert _pandas_uses(ast.parse("import pandas as pd\ndf.mapInPandas(f, s)")) == [
        "pandas", "mapInPandas"
    ]
