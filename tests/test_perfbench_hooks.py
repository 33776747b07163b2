"""The benchmark (perfbench/) reaches into the program by name: it
imports functions and constants, wraps module attributes in timing spans
and wraps the kernel stages listed in ``extract_wl.KERNEL_STAGES``. A
rename inside the program would break only the traced benchmark run, so
this test resolves every such name statically, without running Spark."""

import ast
import importlib
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")
PROGRAM = ("martial_arts_ocr_spark", "bench")


def _is_program(module: str) -> bool:
    return module.split(".")[0] in PROGRAM


def _resolve(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def _is_submodule(full: str) -> bool:
    try:
        return importlib.util.find_spec(full) is not None
    except ModuleNotFoundError:
        return False


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _hooks(path: str) -> list[tuple[str, str, int]]:
    """(module, name, line) for every program name ``path`` uses: names
    imported from the program, attributes read off a program module, and
    the attribute string of each ``*.wrap(<module>, "<attr>", ...)``."""
    tree = _parse(path)
    modules: dict[str, str] = {}      # local name -> program module
    hooks = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if _is_program(a.name):
                    modules[a.asname or a.name] = a.name
        elif (isinstance(node, ast.ImportFrom) and node.level == 0
              and _is_program(node.module)):
            for a in node.names:
                hooks.append((node.module, a.name, node.lineno))
                if _is_submodule(f"{node.module}.{a.name}"):
                    modules[a.asname or a.name] = f"{node.module}.{a.name}"
        elif (isinstance(node, ast.Assign) and len(node.targets) == 1
              and isinstance(node.targets[0], ast.Name)
              and isinstance(node.value, ast.Call)
              and isinstance(node.value.func, ast.Attribute)
              and node.value.func.attr == "import_module"
              and node.value.args
              and isinstance(node.value.args[0], ast.Constant)
              and _is_program(node.value.args[0].value)):
            modules[node.targets[0].id] = node.value.args[0].value
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in modules):
            hooks.append((modules[node.value.id], node.attr, node.lineno))
        elif (isinstance(node, ast.Call)
              and isinstance(node.func, ast.Attribute)
              and node.func.attr == "wrap" and len(node.args) >= 2
              and isinstance(node.args[0], ast.Name)
              and isinstance(node.args[1], ast.Constant)):
            assert node.args[0].id in modules, (
                f"{path}:{node.lineno}: wrap() of {node.args[0].id!r}, "
                "which is not a program module this test can resolve")
            hooks.append((modules[node.args[0].id], node.args[1].value,
                          node.lineno))
    return hooks


def _kernel_stages() -> dict:
    for node in _parse(os.path.join(BENCH_DIR, "extract_wl.py")).body:
        if (isinstance(node, ast.Assign)
                and [t.id for t in node.targets] == ["KERNEL_STAGES"]):
            return ast.literal_eval(node.value)
    raise AssertionError("extract_wl.KERNEL_STAGES not found")


@pytest.mark.parametrize("name", sorted(
    f for f in os.listdir(BENCH_DIR) if f.endswith(".py")))
def test_benchmark_program_names_resolve(name):
    path = os.path.join(BENCH_DIR, name)
    missing = [f"{name}:{line}: {module}.{attr}"
               for module, attr, line in _hooks(path)
               if not _resolve(module, attr)]
    assert not missing, missing


def test_hooks_are_found():
    """The walk sees the hooks the traced runs depend on, so an empty
    result cannot pass for a clean one."""
    found = {(m, a) for f in os.listdir(BENCH_DIR) if f.endswith(".py")
             for m, a, _ in _hooks(os.path.join(BENCH_DIR, f))}
    for hook in [("martial_arts_ocr_spark.engine.resume", "_commit_wave"),
                 ("martial_arts_ocr_spark.engine.curate",
                  "completed_pack_buckets"),
                 ("martial_arts_ocr_spark.engine.curate",
                  "_commit_wave_buckets"),
                 ("martial_arts_ocr_spark.engine.curate", "_flags_path"),
                 ("martial_arts_ocr_spark.kernel.pipeline",
                  "extract_document"),
                 ("bench", "HEADLINE")]:
        assert hook in found, hook


def test_kernel_stage_entry_points_resolve():
    stages = _kernel_stages()
    assert stages
    missing = [f"{stage}: kernel.{mod}.{fn}"
               for stage, entries in stages.items() for mod, fn in entries
               if not _resolve(f"martial_arts_ocr_spark.kernel.{mod}", fn)]
    assert not missing, missing
