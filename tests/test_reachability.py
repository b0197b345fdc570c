"""Package code must be reached from a live root, not only from tests.

Parses the package and the live roots (``__spark_entry__.py``,
``bench.py``, ``bench_extra.py``, ``perfbench/``, ``scripts/``) with
``ast``. A top-level function or class, or a non-dunder method, counts
as reached when its name appears as a ``Name``, an ``Attribute`` or an
import alias anywhere outside its own body. Imports in a package
``__init__.py`` are re-exports and do not count; docstring mentions do
not count either. Tests are not roots.

The unreached set must equal ``ALLOWED`` exactly, so a new test-only
helper fails here, and so does an allowlist entry whose name gained a
caller.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "mhtml_to_html_spark"
LIVE_ROOTS = ["__spark_entry__.py", "bench.py", "bench_extra.py", "perfbench", "scripts"]

ALLOWED = {
    # html.parser.HTMLParser calls these by name from its own code
    "mime/dom.py::_TreeBuilder.handle_decl": "HTMLParser callback",
    "mime/dom.py::_TreeBuilder.handle_starttag": "HTMLParser callback",
    "mime/dom.py::_TreeBuilder.handle_startendtag": "HTMLParser callback",
    "mime/dom.py::_TreeBuilder.handle_endtag": "HTMLParser callback",
    "mime/dom.py::_TreeBuilder.handle_data": "HTMLParser callback",
    "mime/dom.py::_TreeBuilder.handle_comment": "HTMLParser callback",
    # references that tests compare the live code against
    "operators/dedup.py::minhash_signatures_agg": "reference for the MinHash kernel (test_plans)",
    "operators/dedup.py::simhash_agg": "reference for the SimHash kernel (test_plans)",
    "operators/resolve.py::resolve_reference": "reference for the resolver (test_urls)",
    "frontier/seenset.py::CountingBloom.might_contain": "scalar reference for might_contain_many (test_seenset)",
    # kept on purpose
    "operators/ingest.py::ingest_images": "writes the north star's image+caption snapshot table",
    "operators/ingest.py::read_images": "reads that table at a snapshot",
    "frontier/fixtures.py::resource_fetch_double": "Spark workers unpickle it by reference from the package",
    "frontier/robots.py::RobotsRules.allows": "the RFC 9309 matcher",
    # public API that a package __init__ re-exports and no live root calls
    "functions/columns.py::ct_is_document": "functions API: JVM-side content-type predicate",
    "functions/columns.py::ct_is_media": "functions API: JVM-side content-type predicate",
    "functions/columns.py::charset_of": "functions API: JVM-side charset= parameter",
    "functions/columns.py::data_uri": "functions API: JVM-side data: URI",
    "images/synth.py::decode_image": "images API: decoder paired with encode_image",
    "images/synth.py::psnr": "images API: lossy-codec quality measure",
}


def _py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _definitions(tree: ast.Module) -> list[tuple[str, str, ast.AST]]:
    """(qualified name, bare name, node) for top-level functions and
    classes and the non-dunder methods of top-level classes."""
    defs = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs.append((node.name, node.name, node))
            if isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)) and not (
                        m.name.startswith("__") and m.name.endswith("__")
                    ):
                        defs.append((f"{node.name}.{m.name}", m.name, m))
    return defs


def _references(tree: ast.Module, is_init: bool) -> list[tuple[str, ast.AST]]:
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.append((node.id, node))
        elif isinstance(node, ast.Attribute):
            refs.append((node.attr, node))
        elif isinstance(node, (ast.Import, ast.ImportFrom)) and not is_init:
            for alias in node.names:
                refs.append((alias.name.rsplit(".", 1)[-1], node))
    return refs


def _unreached() -> set[str]:
    files = _py_files(PACKAGE) + [f for r in LIVE_ROOTS for f in _py_files(ROOT / r)]
    parsed = {f: ast.parse(f.read_text(), filename=str(f)) for f in files}
    refs: dict[str, list[tuple[Path, int]]] = {}
    for f, tree in parsed.items():
        for name, node in _references(tree, f.name == "__init__.py"):
            refs.setdefault(name, []).append((f, node.lineno))
    unreached = set()
    for f, tree in parsed.items():
        if PACKAGE not in f.parents:
            continue
        for qual, name, node in _definitions(tree):
            if not any(
                rf != f or not node.lineno <= line <= node.end_lineno
                for rf, line in refs.get(name, [])
            ):
                unreached.add(f"{f.relative_to(PACKAGE).as_posix()}::{qual}")
    return unreached


def test_every_package_definition_is_reached_from_a_live_root():
    unreached = _unreached()
    extra = sorted(unreached - ALLOWED.keys())
    assert not extra, "reached only from tests (or nothing):\n" + "\n".join(extra)
    stale = sorted(ALLOWED.keys() - unreached)
    assert not stale, "allowlisted but reached (or gone):\n" + "\n".join(stale)
