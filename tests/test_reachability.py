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

The same walk checks options: a defaulted parameter of a reached function
(``*_col`` names and ``KEPT_WITHOUT_CALLER`` defs aside) must be passed,
by position or keyword, by some call in a root or in reached code. A
``**`` splat of a dict literal, or of a name its file binds only to one
dict literal, sets its keys; any other ``**`` splat sets every parameter.
An option no call sets is a constant: it is deleted with the code paths
only it selected, or listed in ``KEPT_UNSET`` with the reason it stays.
"""

from __future__ import annotations

import ast
import functools
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

_DEPLOYMENT = "deployment data: set per installation, not tuned per call"

KEPT_UNSET = {
    "pipeline.extract_pipeline.use_spacy_ner": (
        "platform selection: the real spaCy NER stage where spaCy is installed"
    ),
    "pipeline.extract_pipeline.nlp_factory": "test seam: a fake spaCy pipeline",
    "session.get_spark.shuffle_partitions": "the frozen perfbench/tests pass it",
    "operators.dedup.connected_components.max_iterations": (
        "safety bound: raises on a chain longer than the limit"
    ),
    "operators.urls.with_registrable_domain.suffixes": _DEPLOYMENT + " (the public-suffix list)",
    "operators.tokenizers.exact_token_counts.encoding": _DEPLOYMENT + " (tokenizer encoding)",
    "operators.ner.spacy_entities_stage.model": _DEPLOYMENT + " (spaCy model name)",
    "operators.ner.spacy_model_available.model": _DEPLOYMENT + " (spaCy model name)",
    "operators.robots.robots_allowed.agent": _DEPLOYMENT + " (the crawler's user-agent)",
    "warc.warc_bytes_to_rows.stats": (
        "fault record: the skip counts and parse errors a caller reads back"
    ),
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _call(n: ast.Call) -> tuple:
    """What a call passes: its positional count (``inf`` past a ``*``
    splat), its keyword names, and the names it ``**``-splats (``None``
    past any other ``**`` splat: it may set every parameter)."""
    n_pos = float("inf") if any(isinstance(a, ast.Starred) for a in n.args) else len(n.args)
    names, splats = set(), []
    for kw in n.keywords:
        if kw.arg is not None:
            names.add(kw.arg)
        elif (keys := _dict_keys(kw.value)) is not None:
            names |= keys
        elif isinstance(kw.value, ast.Name):
            splats.append(kw.value.id)
        else:
            return n_pos, frozenset(names), None
    return n_pos, frozenset(names), tuple(splats)


def _dict_keys(node: ast.AST) -> set[str] | None:
    """The keys of a ``{"k": …}`` literal or a ``dict(k=…)`` call."""
    if isinstance(node, ast.Dict) and all(
        isinstance(k, ast.Constant) and isinstance(k.value, str) for k in node.keys
    ):
        return {k.value for k in node.keys}
    if (
        isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "dict"
        and not node.args
        and all(kw.arg for kw in node.keywords)
    ):
        return {kw.arg for kw in node.keywords}
    return None


class _Module:
    """One parsed file: its defs, the references and calls each def makes,
    the references and calls made at import (or, for a root file,
    anywhere) under the key ``None``, each function's options, and the
    file's import aliases."""

    def __init__(self, path: Path, root_file: bool = False):
        self.name = _module_name(path)
        tree = ast.parse(path.read_text(), str(path))
        self.package = self.name if path.name == "__init__.py" else self.name.rpartition(".")[0]
        # local name -> [("mod", module)] or [("obj", module, name)], from
        # every import in the file, function-local ones included
        self.aliases: dict[str, list[tuple]] = {}
        self.refs: dict[str | None, list[tuple]] = {None: []}
        # key -> [(chain, positional count, keyword names, splatted names)]
        self.calls: dict[str | None, list[tuple]] = {None: []}
        self.def_lines: dict[str, int] = {}
        # function -> {defaulted parameter: its position, None if keyword-only}
        self.options: dict[str, dict[str, int | None]] = {}
        # name -> keys, for a name the file binds only to one dict literal
        self.dicts: dict[str, set[str] | None] = {}
        self.queries: list[str] = []
        for n in ast.walk(tree):
            for target in getattr(n, "targets", [getattr(n, "target", None)]):
                if isinstance(target, ast.Name):
                    keys = _dict_keys(n.value) if isinstance(n, ast.Assign) else None
                    seen = target.id in self.dicts
                    self.dicts[target.id] = None if seen else keys
        if root_file:
            self._scan(tree, None)
        else:
            self._collect(tree.body)

    def _collect(self, body: list[ast.stmt]) -> None:
        """Defs are nodes of the graph; what runs at import is a root."""
        for st in body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self._scan(st, st.name)
                lines = st.end_lineno - st.lineno + 1
                self.def_lines[st.name] = self.def_lines.get(st.name, 0) + lines
                at_import = list(st.decorator_list)
                if isinstance(st, ast.ClassDef):
                    at_import += st.bases + [k.value for k in st.keywords]
                else:
                    at_import += st.args.defaults + [d for d in st.args.kw_defaults if d]
                    self.options[st.name] = _options(st.args)
                for node in at_import:
                    self._scan(node, None)
                if any(
                    isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
                    for d in st.decorator_list
                ):
                    self.queries.append(st.name)
            elif isinstance(st, (ast.If, ast.Try, ast.With)):
                at_import = [i.context_expr for i in getattr(st, "items", [])]
                at_import += [st.test] if isinstance(st, ast.If) else []
                for node in at_import:
                    self._scan(node, None)
                for part in ("body", "orelse", "finalbody"):
                    self._collect(getattr(st, part, []))
                for handler in getattr(st, "handlers", []):
                    if handler.type is not None:
                        self._scan(handler.type, None)
                    self._collect(handler.body)
            else:
                self._scan(st, None)

    def _scan(self, node: ast.AST, key: str | None) -> None:
        """Record under ``key`` each ``Name`` and each ``a.b.c`` chain under
        ``node``, and each call of one, and record the imports it holds."""
        refs = self.refs.setdefault(key, [])
        calls = self.calls.setdefault(key, [])
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
            elif isinstance(n, ast.Call):
                f, chain = n.func, []
                while isinstance(f, ast.Attribute):
                    chain.append(f.attr)
                    f = f.value
                if isinstance(f, ast.Name):
                    calls.append(((f.id, *reversed(chain)), *_call(n)))
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


def _options(args: ast.arguments) -> dict[str, int | None]:
    """A function's defaulted parameters, ``*_col`` names aside."""
    pos = args.posonlyargs + args.args
    first = len(pos) - len(args.defaults)
    out = {p.arg: i for i, p in enumerate(pos) if i >= first}
    out |= {p.arg: None for p, d in zip(args.kwonlyargs, args.kw_defaults) if d is not None}
    return {p: i for p, i in out.items() if not p.endswith("_col")}


@functools.cache
def _walk() -> tuple[dict, set, set]:
    """Parse the package and the root files once. Returns the package
    modules by name, the ``(module, def)`` pairs some root reaches, and the
    ``(module, function, option)`` triples some call from a root or from
    reached code sets."""
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
        if name in m.def_lines:
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

    def defs(module: str, chain: tuple) -> set[tuple[str, str]]:
        targets = resolve(module, chain[0])
        for attr in chain[1:]:
            step = set()
            for t in targets:
                if t[0] == "mod":
                    sub = f"{t[1]}.{attr}"
                    step |= {("mod", sub)} if sub in pkg else resolve(t[1], attr)
            targets = step
        return {(t[1], t[2]) for t in targets if t[0] == "def"}

    reached: set[tuple[str, str]] = set()
    todo: list[tuple[str, str | None]] = [(m.name, None) for m in files.values()]
    for m in files.values():
        for name in m.queries:
            reached.add((m.name, name))
            todo.append((m.name, name))
    set_options: set[tuple[str, str, str]] = set()
    while todo:
        module, key = todo.pop()
        m = files[module]
        for chain in set(m.refs[key]):
            for d in defs(module, chain) - reached:
                reached.add(d)
                todo.append(d)
        for chain, n_pos, names, splats in m.calls[key]:
            for splat in splats or ():
                names |= m.dicts.get(splat) or {"*"}
            if splats is None or "*" in names:
                names = None
            for mod, fn in defs(module, chain):
                options = files[mod].options.get(fn, {})
                set_options |= {
                    (mod, fn, p)
                    for p, i in options.items()
                    if names is None or p in names or (i is not None and i < n_pos)
                }
    return pkg, reached, set_options


def _short(module: str, name: str) -> str:
    return f"{module[len(PKG) + 1:]}.{name}"


def unreachable_defs() -> dict[str, int]:
    """Package-level defs no root reaches, with their line counts."""
    pkg, reached, _ = _walk()
    return {
        _short(m.name, name): lines
        for m in pkg.values()
        for name, lines in m.def_lines.items()
        if (m.name, name) not in reached
    }


def unset_options() -> list[str]:
    """``function.option`` for each defaulted parameter of a reached package
    function that no call from a root or from reached code sets."""
    pkg, reached, set_options = _walk()
    return sorted(
        f"{_short(m.name, fn)}.{p}"
        for m in pkg.values()
        for fn, options in m.options.items()
        if (m.name, fn) in reached and _short(m.name, fn) not in KEPT_WITHOUT_CALLER
        for p in options
        if (m.name, fn, p) not in set_options
    )


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


def test_only_listed_options_go_unset():
    unset = unset_options()
    no_setter = sorted(set(unset) - set(KEPT_UNSET))
    assert not no_setter, (
        f"{len(no_setter)} options are set by no caller: make each a constant "
        "and delete the code only it selects, or list it in KEPT_UNSET with "
        "the reason it stays:\n  " + "\n  ".join(no_setter)
    )
    now_set = sorted(set(KEPT_UNSET) - set(unset))
    assert not now_set, (
        "KEPT_UNSET lists options that are gone or now set by a caller:\n  "
        + "\n  ".join(now_set)
    )
