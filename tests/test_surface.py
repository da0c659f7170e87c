"""Registry store, adapters, pts namespace façade."""

import numpy as np
import pandas as pd

from polars_ts_spark.namespace import pts
from polars_ts_spark.sources import adapters
from polars_ts_spark.sources.registry_store import Experiment, ModelRegistry


def _panel(spark, n=30):
    ts = pd.date_range("2024-01-01", periods=n, freq="D")
    return spark.createDataFrame(pd.concat([
        pd.DataFrame({"unique_id": "a", "ds": ts, "y": 1.0 * np.arange(n)}),
        pd.DataFrame({"unique_id": "b", "ds": ts, "y": 2.0 * np.arange(n)}),
    ]))


def test_model_registry_roundtrip(tmp_path):
    reg = ModelRegistry(tmp_path)
    v1 = reg.save("m", {"coef": [1, 2, 3]}, {"note": "first"})
    v2 = reg.save("m", {"coef": [4, 5]}, {"note": "second"})
    assert (v1, v2) == (1, 2)
    assert reg.load("m")["coef"] == [4, 5]
    assert reg.load("m", 1)["coef"] == [1, 2, 3]
    assert reg.metadata("m")["note"] == "second"
    assert reg.list_models() == ["m"]


def test_experiment_best_run(tmp_path):
    exp = Experiment(tmp_path, "tuning")
    exp.log_run({"alpha": 0.1}, {"mae": 3.0})
    exp.log_run({"alpha": 0.3}, {"mae": 1.5})
    exp.log_run({"alpha": 0.5}, {"mae": 2.0})
    best = exp.best_run("mae")
    assert best["params"]["alpha"] == 0.3
    assert len(exp.runs()) == 3


def test_adapters(spark):
    df = _panel(spark, 10)
    nf = adapters.to_neuralforecast(df)
    assert list(nf.columns) == ["unique_id", "ds", "y"] and len(nf) == 20
    ptf = adapters.to_pytorch_forecasting(df)
    assert ptf[ptf["group_id"] == "a"]["time_idx"].tolist() == list(range(10))
    hf = adapters.to_huggingface(df)
    assert len(hf) == 2 and len(hf[0]["target"]) == 10
    assert hf[0]["id"] == "a" and hf[0]["target"][:3] == [0.0, 1.0, 2.0]


def test_pts_namespace_chain(spark):
    df = _panel(spark, 30)
    out = pts(df).lag_features([1]).rolling_features([7], ["mean"], min_samples=1).df
    assert "y_lag_1" in out.columns and "y_rolling_mean_7" in out.columns
    fc = pts(df).naive_forecast(h=3)
    assert fc.count() == 6
    scored = fc.withColumnRenamed("y_hat", "y_hat").join(
        df.select("unique_id", "ds", "y"), ["unique_id", "ds"], "left"
    ).fillna(0.0)
    m = pts(scored).mae()
    assert m.count() == 1


def test_library_has_no_unused_module_imports():
    """Every module-level import under polars_ts_spark/ is used in its
    module or re-exported through ``__all__``."""
    import ast
    import pathlib

    import polars_ts_spark

    root = pathlib.Path(polars_ts_spark.__file__).parent
    unused = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                used |= set(ast.literal_eval(node.value))
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for alias in node.names:
                    name = alias.asname or alias.name.split(".")[0]
                    if name not in used:
                        unused.append(f"{path.relative_to(root.parent)}:{node.lineno} {name}")
    assert not unused, unused


def test_driver_collect_budget_lives_in_session():
    """The driver-collect budget is one constant, ``session.DRIVER_VALUES_CAP``;
    no module keeps a private copy of it or of the caps it replaced."""
    import pathlib
    import re

    import polars_ts_spark

    root = pathlib.Path(polars_ts_spark.__file__).parent
    pattern = re.compile(
        r"32_000_000|_DRIVER_ELEMS_CAP|_DRIVER_ROWS_CAP|_XY_ELEMS_CAP|_ENBPI_RESID_CAP")
    hits = [
        f"{path.relative_to(root.parent)}:{i} {line.strip()}"
        for path in sorted(root.rglob("*.py")) if path.name != "session.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert not hits, hits


def test_frames_are_reused_only_through_materialize():
    """``session.materialize`` is the one way the library holds a frame
    it reads more than once. One ``.persist(`` is allowed in each of the
    two modules whose blocks must be freed before the function returns,
    and ``localCheckpoint(`` only inside ``session.py``."""
    import collections
    import pathlib
    import re

    import polars_ts_spark

    root = pathlib.Path(polars_ts_spark.__file__).parent
    allowed = collections.Counter(["streaming/structured.py", "operators/embedsim.py"])
    persists, checkpoints = collections.Counter(), []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if re.search(r"\.(persist|cache)\(", line):
                persists[rel] += 1
            if "localCheckpoint(" in line and rel != "session.py":
                checkpoints.append(f"{rel}:{i}")
    assert not persists - allowed, persists
    assert not checkpoints, checkpoints


def test_md5_draw_primitive_lives_in_numutils():
    """The first-4-bytes md5 draw is ``numutils.hash_u32`` / ``hash_unit``;
    no other module re-derives it from a digest prefix."""
    import pathlib

    import polars_ts_spark

    root = pathlib.Path(polars_ts_spark.__file__).parent
    hits = [
        f"{path.relative_to(root.parent)}:{i} {line.strip()}"
        for path in sorted(root.rglob("*.py")) if path.name != "numutils.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if "hexdigest()[:8]" in line or "digest()[:4]" in line
    ]
    assert not hits, hits


def _registry_source():
    import pathlib

    from polars_ts_spark.plans import registry

    return pathlib.Path(registry.__file__).read_text()


def test_registry_imports_the_library_once_at_the_top():
    """Every ``polars_ts_spark`` import in the query registry is in its
    top-level import block; a function-local one needs a reason here."""
    import ast

    allowed: dict[str, str] = {}  # module -> why it must stay local
    local = []
    for fn in ast.walk(ast.parse(_registry_source())):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in ast.walk(fn):
            if isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            elif isinstance(node, ast.Import):
                mods = [alias.name for alias in node.names]
            else:
                continue
            local += [f"{node.lineno} {m}" for m in mods
                      if m.startswith("polars_ts_spark") and m not in allowed]
    assert not local, local


def test_registry_registers_at_module_level():
    """Queries register with ``@register`` at module level: no
    ``_register_*`` wrapper function scopes them."""
    import ast

    tree = ast.parse(_registry_source())
    wrappers = [
        f"{node.lineno} {node.name}" for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef) and node.name.startswith("_register_")
    ]
    assert not wrappers, wrappers


def test_registry_states_the_cents_panel_once():
    """The exact-cents monthly panel CTE is written once (``_CENTS_CTES``)
    and embedded by every oracle that reads it."""
    assert _registry_source().count("daily_cents AS (") == 1


def test_every_query_has_an_oracle():
    from __spark_entry__ import oracle_sql, queries

    names, oracles = list(queries()), oracle_sql()
    assert len(names) == 200 and len(set(names)) == 200
    assert set(names) == set(oracles)
