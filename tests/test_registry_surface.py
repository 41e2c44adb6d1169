"""The registered query surface, pinned byte for byte.

The behaviour anchor of the registry is its set of names and the DuckDB
oracle string each one is proven against. Deleting unregistered code must
leave both untouched, so this test pins the count and a sha256 over the
sorted (name, oracle) pairs. A deliberate change to a registered name or
oracle string updates SURFACE_SHA256 in the same commit.

The census at the end pins the other side of that contract: every
top-level definition in the package must be reachable from code that runs
outside the test suite, so code only tests exercise is deleted or
allowlisted with its reason. A subpackage ``__init__`` re-export is not a
root: only the package root's ``__init__`` exports count, so a name kept
alive only by ``from .x import name`` in a subpackage shows up.
``python -m tests.test_registry_surface`` prints the package-wide
unreachable set.

The window order (``queries()``) is not pinned here: it is re-derived
whenever a new ``CORRECTNESS_r*.json`` is archived, and
test_rotation_window.py pins how.
"""

from __future__ import annotations

import ast
import hashlib
from pathlib import Path

import retail_aws_etl_pipeline_spark
from retail_aws_etl_pipeline_spark.plans import all_specs

SURFACE_SIZE = 150
SURFACE_SHA256 = "9fa9b33937fb490097526514be9096a2e91609ce640477f87a726c2a48675d6c"


def _surface_digest(specs) -> str:
    h = hashlib.sha256()
    for name, oracle in sorted((n, s.oracle) for n, s in specs.items()):
        h.update(name.encode())
        h.update(b"\0")
        h.update(oracle.encode())
        h.update(b"\0")
    return h.hexdigest()


def test_registry_has_the_full_surface():
    assert len(all_specs()) == SURFACE_SIZE


def test_names_and_oracles_are_byte_identical():
    assert _surface_digest(all_specs()) == SURFACE_SHA256


# ---------------------------------------------------------------------------
# Reachability census: every top-level definition in the package must be
# reachable from something that runs outside the test suite.
# ---------------------------------------------------------------------------

_PKG = Path(retail_aws_etl_pipeline_spark.__file__).resolve().parent
_REPO = _PKG.parent
_PKG_NAME = _PKG.name

#: Modules whose public names are the pipeline and streaming APIs.
_PUBLIC_API = (
    "ingest",
    "lake",
    "lake_manifest",
    "operators.compact",
    "plans.views",
    "session",
    "streaming.streams",
)

#: Out-of-package files read as roots: everything they reference runs.
_ROOT_FILES = ("__spark_entry__.py", "bench.py")

#: Unreachable on purpose, with the reason: each is the reference a test
#: compares a registered op's kernel against, or a maintenance half.
_ALLOWED_UNREACHABLE = {
    f"{_PKG_NAME}.{name}"
    for name in (
        # cdc_chunk_dedup: the fixed-window chunker content-defined chunks
        # are proven shift-robust against
        "operators.dedup.CHUNK_W",
        "operators.dedup.token_chunks",
        # edit_distance_near_pairs_lsh: the exact edit-distance pair sets
        # the LSH candidate path is checked against
        "operators.dedup._bucket_blocked_edit_pairs",
        "operators.dedup.edit_distance_pairs",
        # doc_containment_pairs_prefix: the brute-force containment pairs
        # the prefix filter must reproduce
        "operators.dedup.containment_pairs",
        # webp_dims_probe / avif_dims_probe: header builders for the other
        # formats probe_image_dims parses
        "operators.multimodal._gif_header_bytes",
        "operators.multimodal._jpeg_header_bytes",
        "operators.multimodal._tiff_header_bytes",
        # ann_topk_ivf_indexed: the in-memory IVF search the at-rest index
        # must match
        "operators.similarity.ivf_topk",
        # bitext_margin_pairs_ivf: the brute-force margin pairs the IVF
        # candidate path is checked against
        "operators.similarity.margin_mutual_pairs",
    )
}

_REGISTER_DECORATORS = {"register", "register_extra"}


def _module_files() -> dict[str, tuple[Path, bool]]:
    """module name -> (path, is a root file) for the package and the roots."""
    files: dict[str, tuple[Path, bool]] = {}
    for path in sorted(_PKG.rglob("*.py")):
        parts = path.relative_to(_REPO).with_suffix("").parts
        files[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = (path, False)
    for name in _ROOT_FILES:
        files[name[:-3]] = (_REPO / name, True)
    for path in sorted((_REPO / "perfbench").glob("*.py")):
        if not path.name.startswith("test_"):
            # perfbench modules import each other by bare name
            files[path.stem] = (path, True)
    return files


def _top_level(body: list[ast.stmt]):
    """Module-level statements, flattening if/try/with blocks."""
    for stmt in body:
        if isinstance(stmt, ast.If):
            yield ast.Expr(stmt.test)
        if isinstance(stmt, (ast.If, ast.Try, ast.With)):
            yield from _top_level(
                [s for block in ("body", "orelse", "finalbody") for s in getattr(stmt, block, [])]
                + [s for h in getattr(stmt, "handlers", []) for s in h.body]
            )
        else:
            yield stmt


def _bound_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return []


def _census() -> set[str]:
    """Dotted names of the package's unreachable top-level definitions."""
    files = _module_files()
    trees = {m: ast.parse(p.read_text(), str(p)) for m, (p, _) in files.items()}
    defs: dict[str, set[str]] = {m: set() for m in trees}
    imports: dict[str, set[str]] = {m: set() for m in trees}
    for mod, tree in trees.items():
        for stmt in _top_level(tree.body):
            defs[mod].update(_bound_names(stmt))
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                imports[mod].update((a.asname or a.name).split(".")[0] for a in stmt.names)

    def resolve_from(mod: str, name: str) -> tuple[str, str] | None:
        """('node', 'mod.name') or ('module', 'mod.name') or None."""
        if mod in trees and (name in defs[mod] or name in imports[mod]):
            return ("node", f"{mod}.{name}")
        if f"{mod}.{name}" in trees:
            return ("module", f"{mod}.{name}")
        return None

    def aliases(stmts) -> tuple[dict[str, str], set[str]]:
        """Module aliases bound by imports, plus the nodes those imports name."""
        mods: dict[str, str] = {}
        nodes: set[str] = set()
        for stmt in stmts:
            if isinstance(stmt, ast.Import):
                for a in stmt.names:
                    if a.asname:
                        mods[a.asname] = a.name
                    else:
                        mods[a.name.split(".")[0]] = a.name.split(".")[0]
            elif isinstance(stmt, ast.ImportFrom) and stmt.module and not stmt.level:
                for a in stmt.names:
                    hit = resolve_from(stmt.module, a.name)
                    if hit and hit[0] == "module":
                        mods[a.asname or a.name] = hit[1]
                    elif hit:
                        nodes.add(hit[1])
        return mods, nodes

    def refs(tree: ast.AST, mod: str, mod_aliases: dict[str, str]) -> set[str]:
        local, out = aliases(ast.walk(tree))
        scope = {**mod_aliases, **local}

        def resolve(e: ast.expr):
            if isinstance(e, ast.Name):
                if e.id in scope:
                    return ("module", scope[e.id])
                if e.id in defs[mod] or e.id in imports[mod]:
                    return ("node", f"{mod}.{e.id}")
            elif isinstance(e, ast.Attribute):
                base = resolve(e.value)
                if base and base[0] == "module":
                    return resolve_from(base[1], e.attr)
            return None

        for node in ast.walk(tree):
            if isinstance(node, (ast.Name, ast.Attribute)):
                hit = resolve(node)
                if hit and hit[0] == "node":
                    out.add(hit[1])
        return out

    edges: dict[str, set[str]] = {}
    roots: set[str] = set()
    for mod, tree in trees.items():
        path, is_root_file = files[mod]
        mod_aliases, _ = aliases(_top_level(tree.body))
        public = mod in {f"{_PKG_NAME}.{m}" for m in _PUBLIC_API}
        exports = mod == _PKG_NAME or is_root_file
        for stmt in _top_level(tree.body):
            names = _bound_names(stmt)
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                for a in stmt.names:
                    bound = f"{mod}.{(a.asname or a.name).split('.')[0]}"
                    if isinstance(stmt, ast.ImportFrom) and stmt.module and not stmt.level:
                        hit = resolve_from(stmt.module, a.name)
                        if hit and hit[0] == "node":
                            edges.setdefault(bound, set()).add(hit[1])
                    if exports:
                        roots.add(bound)
                continue
            out = refs(stmt, mod, mod_aliases)
            if not names:
                roots |= out
                continue
            registered = any(
                isinstance(d, ast.Call)
                and getattr(d.func, "id", getattr(d.func, "attr", None)) in _REGISTER_DECORATORS
                for d in getattr(stmt, "decorator_list", [])
            )
            for name in names:
                edges.setdefault(f"{mod}.{name}", set()).update(out)
                if registered or exports or (public and not name.startswith("_")):
                    roots.add(f"{mod}.{name}")

    seen, todo = set(), list(roots)
    while todo:
        node = todo.pop()
        if node not in seen:
            seen.add(node)
            todo.extend(edges.get(node, ()))
    return {
        f"{mod}.{name}"
        for mod in trees
        if not files[mod][1]
        for name in defs[mod]
        if f"{mod}.{name}" not in seen
    }


def test_package_has_no_unreachable_defs():
    """No top-level definition in the package is kept alive only by tests.
    Roots: the registered specs, module-level statements, the pipeline
    and streaming APIs' public names, the package root ``__init__``
    exports, ``__spark_entry__.py``, ``bench.py`` and the perfbench
    modules. Delete what this flags, or allowlist it with the reason it
    stays."""
    assert _census() == _ALLOWED_UNREACHABLE


if __name__ == "__main__":
    print("\n".join(sorted(_census())))
