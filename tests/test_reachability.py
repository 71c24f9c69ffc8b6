"""Every package function and class is reached from an entry point.

Pure AST, no Spark. The roots are what runs: every ``@query`` builder in
``queries.py`` (its decorator arguments, the oracle builders, are
module-level statements and so roots too), every package module-level
statement, and everything in ``jobs/``, ``tools/``, ``perfbench/`` (not its
tests), ``bench.py`` and ``__spark_entry__.py``. A def is
reached through a chain of ``Name``/``Attribute`` references from a root,
with ``import x as y`` aliases mapped back to ``x``. Tests are not roots:
code that only tests call has no caller.

What no root reaches must be listed in ``KEPT_WITHOUT_CALLER`` with the
reason it stays; anything else is deleted, so code with no caller cannot
come back unnoticed.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "llm_document_parser_spark"

_CLASSIFY = "SURVEY M1-M6: the reference's document-type classifier (ml/classify.py)"
_PARITY = "SURVEY M1/M6 parity mode: scores with the reference's sklearn artifacts"
_SOURCES = "SURVEY S3-S5, F1/F2: the reference's CSV and document-directory sources"

KEPT_WITHOUT_CALLER = {
    "ml.classify.build_pipeline": _CLASSIFY,
    "ml.classify.classification_report": _CLASSIFY,
    "ml.classify.evaluate": _CLASSIFY,
    "ml.classify.golden_eval": _CLASSIFY,
    "ml.classify.golden_label_set": _CLASSIFY,
    "ml.classify.record_training_run": _CLASSIFY,
    "ml.classify.stratified_split": _CLASSIFY,
    "ml.classify.train_classifier": _CLASSIFY,
    "ml.classify.training_history": _CLASSIFY,
    "ml.classify.with_predicted_type": _CLASSIFY,
    "ml.sklearn_parity.StubClassifier": _PARITY,
    "ml.sklearn_parity.StubLabelEncoder": _PARITY,
    "ml.sklearn_parity.StubVectorizer": _PARITY,
    "ml.sklearn_parity.load_artifact": _PARITY,
    "ml.sklearn_parity.make_stub_artifact": _PARITY,
    "ml.sklearn_parity.save_artifact": _PARITY,
    "ml.sklearn_parity.sklearn_available": _PARITY,
    "ml.sklearn_parity.validate_artifact": _PARITY,
    "ml.sklearn_parity.with_sklearn_predicted_type": _PARITY,
    "operators.export.select_for_export": "SURVEY J1: keyed export selection",
    "operators.export.export_wide": "SURVEY S10: wide CSV export",
    "operators.export.export_long": "SURVEY S11: long-format export sheets",
    "operators.export.excel_sheet_frames": "SURVEY S11: Excel export sheets",
    "operators.export._write_xlsx": "SURVEY S11: Excel export writer",
    "operators.export.write_excel_export": "SURVEY S11: Excel export sink",
    "operators.export.export_json_docs": "SURVEY S8/S12: JSON document export",
    "operators.export.flatten_first_values": "SURVEY S13: JSON-to-CSV flattener",
    "operators.search.build_search_filter": "SURVEY F5: multi-filter search predicate",
    "operators.search.search_documents": "SURVEY F5/F6: filtered, paginated search",
    "operators.search.search_facets": "SURVEY A2: search facets",
    "operators.search.extraction_summary_cols": "SURVEY A8: per-document summary counts",
    "operators.search.date_range": "SURVEY A10: min/max date range",
    "sources._opt": _SOURCES,
    "sources.contract_text_col": _SOURCES,
    "sources.detect_csv_document_type": _SOURCES,
    "sources.generic_text_col": _SOURCES,
    "sources.invoice_text_col": _SOURCES,
    "sources.load_document_dir": _SOURCES,
    "sources.load_training_csv": _SOURCES,
    "streaming.ingest.daily_url_counts": "SURVEY T7: daily quota window",
    "operators.tokenizers.RegexStandInEncoder": (
        "test seam: a picklable encoder fake that executors import from the package"
    ),
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    """One parsed file: its defs, the references each def makes, the
    references made at import (or, for a root file, anywhere), and its
    import aliases."""

    def __init__(self, path: Path, root_file: bool = False):
        self.name = _module_name(path)
        tree = ast.parse(path.read_text(), str(path))
        self.package = self.name if path.name == "__init__.py" else self.name.rpartition(".")[0]
        # local name -> [("mod", module)] or [("obj", module, name)], from
        # every import in the file, function-local ones included
        self.aliases: dict[str, list[tuple]] = {}
        self.def_refs: dict[str, list[tuple]] = {}
        self.def_lines: dict[str, int] = {}
        self.queries: list[str] = []
        self.root_refs: list[tuple] = []
        if root_file:
            self._scan(tree, self.root_refs)
        else:
            self._collect(tree.body)

    def _collect(self, body: list[ast.stmt]) -> None:
        """Defs are nodes of the graph; what runs at import is a root."""
        for st in body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self._scan(st, self.def_refs.setdefault(st.name, []))
                lines = st.end_lineno - st.lineno + 1
                self.def_lines[st.name] = self.def_lines.get(st.name, 0) + lines
                at_import = list(st.decorator_list)
                if isinstance(st, ast.ClassDef):
                    at_import += st.bases + [k.value for k in st.keywords]
                else:
                    at_import += st.args.defaults + [d for d in st.args.kw_defaults if d]
                for node in at_import:
                    self._scan(node, self.root_refs)
                if any(
                    isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
                    for d in st.decorator_list
                ):
                    self.queries.append(st.name)
            elif isinstance(st, (ast.If, ast.Try, ast.With)):
                at_import = [i.context_expr for i in getattr(st, "items", [])]
                at_import += [st.test] if isinstance(st, ast.If) else []
                for node in at_import:
                    self._scan(node, self.root_refs)
                for part in ("body", "orelse", "finalbody"):
                    self._collect(getattr(st, part, []))
                for handler in getattr(st, "handlers", []):
                    if handler.type is not None:
                        self._scan(handler.type, self.root_refs)
                    self._collect(handler.body)
            else:
                self._scan(st, self.root_refs)

    def _scan(self, node: ast.AST, refs: list[tuple]) -> None:
        """Append each ``Name`` and each ``a.b.c`` chain under ``node`` to
        ``refs``, and record the imports it holds."""
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                refs.append((n.id,))
            elif isinstance(n, ast.Attribute):
                chain = []
                while isinstance(n, ast.Attribute):
                    chain.append(n.attr)
                    n = n.value
                if isinstance(n, ast.Name):
                    refs.append((n.id, *reversed(chain)))
            elif isinstance(n, ast.Import):
                for a in n.names:
                    local = a.asname or a.name.split(".")[0]
                    target = a.name if a.asname else local
                    self.aliases.setdefault(local, []).append(("mod", target))
            elif isinstance(n, ast.ImportFrom):
                src = n.module or ""
                if n.level:
                    base = self.package.split(".")
                    base = base[: len(base) - n.level + 1]
                    src = ".".join(base + ([n.module] if n.module else []))
                for a in n.names:
                    self.aliases.setdefault(a.asname or a.name, []).append(("obj", src, a.name))


def unreachable_defs() -> dict[str, int]:
    """Package-level defs no root reaches, with their line counts."""
    pkg = {m.name: m for m in map(_Module, sorted((REPO / PKG).rglob("*.py")))}
    root_files = [
        *(p for d in ("jobs", "tools") for p in (REPO / d).rglob("*.py")),
        *(p for p in (REPO / "perfbench").rglob("*.py") if "tests" not in p.parts),
        *(REPO / f for f in ("bench.py", "__spark_entry__.py")),
    ]
    roots = [_Module(p, root_file=True) for p in root_files]
    files = {**{m.name: m for m in roots}, **pkg}

    def resolve(module: str, name: str, depth: int = 0) -> set[tuple]:
        m = files.get(module)
        if m is None or depth > 10:
            return set()
        if name in m.def_refs:
            return {("def", module, name)}
        out = set()
        for alias in m.aliases.get(name, []):
            if alias[0] == "mod":
                out.add(alias)
            elif f"{alias[1]}.{alias[2]}" in pkg:
                out.add(("mod", f"{alias[1]}.{alias[2]}"))
            else:
                out |= resolve(alias[1], alias[2], depth + 1)
        return out

    reached: set[tuple[str, str]] = set()
    todo: list[tuple[str, str]] = []

    def reach(module: str, name: str) -> None:
        if (module, name) not in reached:
            reached.add((module, name))
            todo.append((module, name))

    def visit(module: str, refs: list[tuple]) -> None:
        for chain in set(refs):
            targets = resolve(module, chain[0])
            for attr in chain[1:]:
                step = set()
                for t in targets:
                    if t[0] == "mod":
                        sub = f"{t[1]}.{attr}"
                        step |= {("mod", sub)} if sub in pkg else resolve(t[1], attr)
                targets = step
            for t in targets:
                if t[0] == "def":
                    reach(t[1], t[2])

    for m in files.values():
        visit(m.name, m.root_refs)
        for name in m.queries:
            reach(m.name, name)
    while todo:
        module, name = todo.pop()
        visit(module, pkg[module].def_refs[name])

    return {
        f"{m.name[len(PKG) + 1:]}.{name}": lines
        for m in pkg.values()
        for name, lines in m.def_lines.items()
        if (m.name, name) not in reached
    }


def test_only_listed_code_lacks_a_caller():
    unreachable = unreachable_defs()
    no_caller = sorted(set(unreachable) - set(KEPT_WITHOUT_CALLER))
    assert not no_caller, (
        f"{len(no_caller)} defs ({sum(unreachable[n] for n in no_caller)} lines) "
        "have no caller: delete them or list them in KEPT_WITHOUT_CALLER with "
        "the reason they stay:\n  " + "\n  ".join(no_caller)
    )
    now_called = sorted(set(KEPT_WITHOUT_CALLER) - set(unreachable))
    assert not now_called, (
        "KEPT_WITHOUT_CALLER lists defs that are gone or now have a caller:\n  "
        + "\n  ".join(now_called)
    )
