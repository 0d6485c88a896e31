"""The benchmark's tracer (perfbench/spans.py) wraps engine functions by
module attribute name when a `--trace 1` run starts, outside any error
handling; a renamed or removed name would break every traced run. These
checks import the tracer as it is and resolve each name it wraps."""

import importlib
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spans():
    spec = importlib.util.spec_from_file_location(
        "perfbench_spans", os.path.join(ROOT, "perfbench", "spans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_traced_layer_functions_resolve():
    spans = _spans()
    assert spans.LAYER_FUNCS
    for mod_name, attr, _layer in spans.LAYER_FUNCS:
        assert callable(getattr(importlib.import_module(mod_name), attr, None)), (
            f"{mod_name}.{attr}"
        )


def test_traced_catalog_methods_exist():
    from dedup.catalog import Warehouse

    spans = _spans()
    assert spans.CATALOG_METHODS
    for attr in spans.CATALOG_METHODS:
        assert callable(getattr(Warehouse, attr, None)), f"Warehouse.{attr}"


def test_catalog_call_shapes():
    """perfbench builds a Warehouse positionally and reads the table of a
    write or replace call as its third positional argument (`args[2]`,
    counting self)."""
    import inspect

    from dedup.catalog import Warehouse

    def params(fn):
        return list(inspect.signature(fn).parameters)[1:]  # after self

    assert params(Warehouse.__init__) == ["root", "config_hash", "run_id"]
    assert params(Warehouse.write) == ["df", "table", "partition_by"]
    assert params(Warehouse.replace) == ["df", "table", "partition_by", "includes"]


def test_tracer_installs_and_uninstalls(spark):
    """The whole `install()` step, as a traced run makes it, then undone."""
    from dedup import stages

    before = stages.stage3_candidates
    tracer = _spans().Tracer(spark)
    try:
        tracer.install()
        assert stages.stage3_candidates is not before
    finally:
        tracer.uninstall()
    assert stages.stage3_candidates is before
