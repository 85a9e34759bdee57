"""Reachability guard (pure AST, no Spark): every top-level name the package
defines must be used by something other than its own tests.

A name counts as used when a non-test root references it, or when package
code that is itself used references it, or when it sits on the short
allowlist below.  The roots are the query contract in
``__spark_entry__.py``, ``bench.py``, the spark-submit job, the layered
benchmark and the packaging script.  A name that only its unit tests reach
is dead weight: delete it, or wire it into something that stays."""

import ast
import glob
import os
from pathlib import Path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "otel_semconvprocessor_spark")
ROOTS = ["__spark_entry__.py", "bench.py", "jobs/run_pipeline.py", "scripts/package.py"] + sorted(
    os.path.relpath(p, REPO) for p in glob.glob(os.path.join(REPO, "perfbench", "*.py"))
)

# Entry points with no in-repo caller, each with the reason it stays.  Names
# they reach are covered transitively.
ALLOWED = {
    "ngram_jaccard_pairs": "all-pairs ground truth for test_minhash_lsh_finds_dups",
    "lsh_signature": "Column-API reference for test_sig_sql_matches_column_api",
    "release_cached": "cache contract of the near-dup operators",
    "synthetic_media": "media plumbing / prune-plan fixture",
    "read_otlp_traces": "OTLP/JSON reader (the reference's receiver surface)",
    "write_synthetic_otlp_fixture": "OTLP/JSON fixture writer for that reader",
    "read_otlp_proto_files": "OTLP protobuf batch reader",
    "read_otlp_proto_stream": "OTLP protobuf streaming reader",
    "start_streaming_pipeline": "streaming start (documented production entry point)",
    "IcebergCatalog": "Iceberg sink catalog (documented production entry point)",
    "ParquetDirCatalog": "test double for the SinkCatalog verbs",
    "load_collector_yaml": "collector config loader (documented production entry point)",
    "read_all_output": "read side of run_with_checkpoints' chunked output",
    "SUPPORTED_FUNCTIONS": "OTTL function inventory documented in the README",
}


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
    return out


def _package_definitions() -> tuple[dict[str, list[tuple[str, ast.AST]]], set[str]]:
    """Top-level definitions by name, plus the names that module-level
    statements (which run at import) reference.  Module-level imports are
    bindings, not uses, so they are skipped."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    import_time: set[str] = set()
    for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True)):
        mod = os.path.relpath(path, REPO)
        for st in ast.parse(Path(path).read_text(encoding="utf-8")).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(st.name, []).append((mod, st))
            elif isinstance(st, (ast.Assign, ast.AnnAssign)):
                targets = st.targets if isinstance(st, ast.Assign) else [st.target]
                for t in targets:
                    if isinstance(t, ast.Name) and t.id != "__all__":
                        defs.setdefault(t.id, []).append((mod, st))
            elif not isinstance(st, (ast.Import, ast.ImportFrom)):
                import_time |= _refs(st)
    return defs, import_time


def _unreached() -> list[str]:
    defs, used = _package_definitions()
    used |= set(ALLOWED)
    for root in ROOTS:
        used |= _refs(ast.parse(Path(REPO, root).read_text(encoding="utf-8")))
    work = list(used)
    while work:
        for _, node in defs.get(work.pop(), []):
            new = _refs(node) - used
            used |= new
            work.extend(new)
    return sorted(f"{mod}: {name}" for name, lst in defs.items() if name not in used
                  for mod, _ in lst)


def test_every_package_name_is_reached():
    assert _unreached() == []


def test_allowlist_names_exist():
    defs, _ = _package_definitions()
    assert sorted(n for n in ALLOWED if n not in defs) == []
