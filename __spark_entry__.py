"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship query; ``queries`` exposes every implemented
operator from SURVEY.md §2 (plus the LLM-pipeline extensions);
``oracle_sql`` gives the DuckDB-executable twin for each. The catalog
itself lives in ``openmsistream_spark.queries``.
"""

from __future__ import annotations

import os
import re
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from openmsistream_spark.catalog import load_all

# The extras modules register out-of-band (not from queries.py) so
# landing new queries does not dirty the byte-identity of every
# already-verified catalog entry's source closure — see
# queries_extras.py module docstring.
QUERIES = load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["q1_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


_HERE = os.path.dirname(os.path.abspath(__file__))


def _last_green_round() -> dict[str, str]:
    """Map query name -> path of the NEWEST CORRECTNESS_r*.json holding a
    green hash/rows row for it. Used to order the catalog so that, if
    the driver caps its per-round sweep, not-yet-verified queries (and
    verified queries whose source changed since that round — their green
    row is stale) are checked first and the whole catalog converges to
    driver-green on current code."""
    import glob
    import json

    latest: dict[str, str] = {}
    for path in sorted(glob.glob(os.path.join(_HERE, "CORRECTNESS_r*.json"))):
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            # an oracle-backed query is only VERIFIED by a hash match —
            # a rows-only match on it is a red row (round-6 lesson:
            # key_skew_profile matched rows but hash-mismatched on an
            # oracle typing bug, and counting it green would have sorted
            # the fixed query last in the sweep instead of first)
            q = QUERIES.get(name)
            green = (
                row.get("hash_match")
                if q is None or q.oracle is not None
                else row.get("rows_match")
            )
            if green:
                latest[name] = path  # sorted() => later rounds overwrite
    return latest


_PKG = "openmsistream_spark"


def _dotted_to_relpath(dotted: str) -> str | None:
    """Repo-relative source file for an in-package dotted module name,
    resolved from the filesystem (NOT sys.modules — a module referenced
    only by a function-local import may never have been imported in this
    process, and its file must still count toward the closure)."""
    if not dotted.startswith(_PKG):
        return None
    rel = dotted.replace(".", os.sep)
    for cand in (rel + ".py", os.path.join(rel, "__init__.py")):
        if os.path.isfile(os.path.join(_HERE, cand)):
            return cand
    return None


def _module_ast(dotted: str, _cache: dict = {}):
    """(ast.Module, {name: top-level def node}, {name: provider dotted
    module(s)}) for an in-package module, parsed from its CURRENT source.
    The import map is textual (built from the module's import statements,
    not runtime objects) so symbols that are plain values — schemas,
    constants, compiled regexes — still map back to the module whose
    edit would change them."""
    import ast
    import inspect

    if dotted in _cache:
        return _cache[dotted]
    mod = sys.modules.get(dotted)
    rel = _dotted_to_relpath(dotted)
    try:
        if rel is not None:
            src_file = os.path.join(_HERE, rel)
        else:
            src_file = inspect.getsourcefile(mod) if mod else None
        with open(src_file) as f:
            tree = ast.parse(f.read())
    except Exception:
        _cache[dotted] = (None, {}, {})
        return _cache[dotted]
    defs: dict = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            defs[node.name] = node
        elif isinstance(node, ast.Assign):
            # module-level constants count too: an oracle CTE string
            # built from an imported fragment (_SEMDEDUP_CTE =
            # _EMB_NORM_CTE + ...) must pull the fragment's module into
            # the closure, or editing it leaves queries falsely fresh
            for tgt in node.targets:
                for n2 in ast.walk(tgt):
                    if isinstance(n2, ast.Name):
                        defs[n2.id] = node
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            defs[node.target.id] = node
    imports = _imports_in(tree, dotted, mod)
    _cache[dotted] = (tree, defs, imports)
    return _cache[dotted]


def _imports_in(tree, dotted: str, mod) -> dict:
    """{local_name: set of in-package provider dotted modules} from the
    import statements anywhere in ``tree`` (module body OR a function
    body — function-local imports count the same; round-6 finding:
    cosine_topk_sq8 kept a stale green row after llm/similarity.py
    changed because its import was local to the fn)."""
    import ast
    import types

    mod_parts = dotted.split(".")
    out: dict = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(_PKG):
                    local = (alias.asname or alias.name).split(".")[0]
                    out.setdefault(local, set()).add(alias.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level > 0:
                # relative import, anchored at __package__ (the module's
                # parent package, or the package itself for __init__s);
                # each extra dot drops one more trailing component
                pkg = getattr(mod, "__package__", None)
                if pkg is None:
                    rel = _dotted_to_relpath(dotted)
                    is_pkg = bool(rel) and rel.endswith("__init__.py")
                    pkg = dotted if is_pkg else ".".join(mod_parts[:-1])
                parts = pkg.split(".") if pkg else []
                if node.level > 1:
                    parts = parts[: len(parts) - (node.level - 1)]
                target = ".".join(
                    parts + ([node.module] if node.module else [])
                )
            else:
                target = node.module or ""
            if not target.startswith(_PKG):
                continue
            for alias in node.names:
                local = alias.asname or alias.name
                providers = {target}
                # `from pkg import x` may bind the submodule pkg.x, or a
                # symbol pkg/__init__ re-exports from elsewhere — chase
                # both so editing the REAL defining module is caught
                sub = f"{target}.{alias.name}"
                if _dotted_to_relpath(sub) is not None:
                    providers.add(sub)
                holder = sys.modules.get(target)
                obj = getattr(holder, alias.name, None) if holder else None
                if isinstance(obj, types.ModuleType):
                    if (obj.__name__ or "").startswith(_PKG):
                        providers.add(obj.__name__)
                else:
                    origin = getattr(obj, "__module__", None) or ""
                    if origin.startswith(_PKG):
                        providers.add(origin)
                out.setdefault(local, set()).update(providers)
    return out


def _def_node_for(fn):
    """The module-AST def node for a query function (matched by name,
    nearest line number on duplicates) — walking the AST node covers the
    decorator expressions, so an oracle-string edit in ``@query(...)``
    dirties the closure too."""
    dotted = fn.__module__ or ""
    _, defs, _ = _module_ast(dotted)
    return defs.get(getattr(fn, "__name__", ""))


def _query_source_files(name: str) -> list[str]:
    """Repo-relative source files a query's behavior depends on: the
    defining module, plus — transitively, at function granularity — the
    module of every in-package symbol the query function actually
    REFERENCES (through same-module helpers and cross-module calls
    alike). Name-usage precise: a module-level ``from .llm.dedup import
    x`` in queries.py only counts for queries whose code reaches ``x``
    (the round-7 coarse whole-module rule marked q1_pricing_summary
    stale on dedup.py edits it never executes, wasting capped driver
    sweep slots), while cross-module recursion now catches deep utils
    the old one-level rule missed (kmeans → llm/iterutil.py)."""
    import ast

    fn = QUERIES[name].fn
    root_mod = fn.__module__ or ""
    dotted_mods = {root_mod}
    root_node = _def_node_for(fn)
    if root_node is None:
        # source unavailable (REPL, exec) — fall back to the whole
        # module import surface so staleness stays sound
        _, _, imports = _module_ast(root_mod)
        for providers in imports.values():
            dotted_mods.update(providers)
    seen: set = set()
    stack = [(root_mod, root_node)] if root_node is not None else []
    while stack:
        dotted, node = stack.pop()
        if (dotted, getattr(node, "name", id(node))) in seen:
            continue
        seen.add((dotted, getattr(node, "name", id(node))))
        dotted_mods.add(dotted)
        _, defs, mod_imports = _module_ast(dotted)
        local_imports = _imports_in(node, dotted, sys.modules.get(dotted))
        referenced = {
            n.id for n in ast.walk(node) if isinstance(n, ast.Name)
        }
        # symbols brought in by function-local imports are dependencies
        # even before use (the import executes)
        referenced.update(local_imports)
        for nm in referenced:
            providers = set()
            providers.update(local_imports.get(nm, ()))
            providers.update(mod_imports.get(nm, ()))
            if nm in defs and (dotted, nm) not in seen:
                stack.append((dotted, defs[nm]))
            for prov in providers:
                dotted_mods.add(prov)
                # recurse into the provider's def of this symbol so its
                # own cross-module dependencies are tracked
                _, pdefs, _ = _module_ast(prov)
                if nm in pdefs and (prov, nm) not in seen:
                    stack.append((prov, pdefs[nm]))
        # module-attribute chains (``pkgmod.sub.fn(...)``): add every
        # module along the dotted path that actually resolves
        for anode in ast.walk(node):
            if not isinstance(anode, ast.Attribute):
                continue
            chain = []
            cur = anode
            while isinstance(cur, ast.Attribute):
                chain.append(cur.attr)
                cur = cur.value
            if not isinstance(cur, ast.Name):
                continue
            roots = local_imports.get(cur.id, set()) | mod_imports.get(
                cur.id, set()
            )
            for root in roots:
                path = root
                for part in reversed(chain):
                    path = f"{path}.{part}"
                    if _dotted_to_relpath(path) is not None:
                        dotted_mods.add(path)
    import inspect

    paths = set()
    for dotted in dotted_mods:
        rel = _dotted_to_relpath(dotted)
        if rel is not None:
            paths.add(rel)
            continue
        m = sys.modules.get(dotted)
        if m is None:
            continue
        try:
            src = inspect.getsourcefile(m)
        except TypeError:
            src = None
        if src:
            paths.add(os.path.relpath(os.path.abspath(src), _HERE))
    return sorted(paths)


def _git_blob(commit: str, relpath: str, _cache: dict = {}) -> bytes | None:
    import subprocess

    key = (commit, relpath)
    if key not in _cache:
        try:
            out = subprocess.run(
                ["git", "-C", _HERE, "show", f"{commit}:{relpath}"],
                capture_output=True, timeout=30,
            )
            _cache[key] = out.stdout if out.returncode == 0 else None
        except Exception:
            _cache[key] = None
    return _cache[key]


def _verified_commit(correctness_path: str, _cache: dict = {}) -> str | None:
    """Commit whose code the driver ran to produce this CORRECTNESS file —
    the commit that first added the file (the driver commits round
    artifacts immediately after the end-of-round code snapshot)."""
    import subprocess

    rel = os.path.basename(correctness_path)
    if rel not in _cache:
        try:
            out = subprocess.run(
                ["git", "-C", _HERE, "log", "--diff-filter=A",
                 "--format=%H", "-n", "1", "--", rel],
                capture_output=True, text=True, timeout=30,
            )
            sha = out.stdout.strip() if out.returncode == 0 else ""
            _cache[rel] = sha or None
        except Exception:
            _cache[rel] = None
    return _cache[rel]


def _is_stale(name: str, correctness_path: str) -> bool:
    """True iff the query's implementing source differs now from what the
    driver verified (so its green row no longer covers shipping code)."""
    commit = _verified_commit(correctness_path)
    if commit is None:
        return False  # no git signal — keep the green row's word
    for rel in _query_source_files(name):
        then = _git_blob(commit, rel)
        try:
            with open(os.path.join(_HERE, rel), "rb") as f:
                now = f.read()
        except OSError:
            now = None
        if then != now:
            return True
    return False


def _bench_cost() -> dict[str, float]:
    """Newest benched wall-time per query (BENCH_r*.json), 0.0 if never
    benched. Used only as a sort tiebreak."""
    import glob
    import json

    cost: dict[str, float] = {}
    # BENCH_LOCAL.json is bench.py's lossless record (the driver's
    # stdout tail only holds a trimmed line), but it can be STALE: a
    # read-only checkout skips writing it while the driver still lands
    # a fresh BENCH_r*.json. Order by file mtime so whichever record is
    # actually newest wins; on mtime TIES (a fresh clone/checkout
    # equalizes every mtime) the round number breaks the tie, with
    # BENCH_LOCAL.json ranked BELOW every round file — a committed
    # local record must never shadow a driver round on equal mtimes.
    paths = sorted(glob.glob(os.path.join(_HERE, "BENCH_r*.json")))
    local = os.path.join(_HERE, "BENCH_LOCAL.json")
    if os.path.exists(local):
        paths.append(local)

    def _round_no(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", os.path.basename(p))
        return int(m.group(1)) if m else -1  # BENCH_LOCAL loses ties

    def _sort_key(p: str):
        try:
            mtime = os.path.getmtime(p)
        except OSError:
            mtime = 0.0
        return (mtime, _round_no(p))

    paths.sort(key=_sort_key)
    for path in paths:
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        # driver rounds wrap bench.py's JSON line under "parsed"
        if isinstance(data.get("parsed"), dict):
            data = data["parsed"]
        for name, sec in (data.get("queries") or {}).items():
            if isinstance(sec, (int, float)):
                cost[name] = float(sec)  # later rounds overwrite
    return cost


def _ordered_names() -> list[str]:
    latest = _last_green_round()
    names = list(QUERIES)
    try:
        fresh = {
            n for n in names if n in latest and not _is_stale(n, latest[n])
        }
    except Exception:
        fresh = set(latest)
    # Three tiers so a capped driver sweep converges the catalog instead of
    # starving it (round-3 failure: one needs-verification partition kept
    # catalog order, so freshly-staled round-1 names consumed every slot):
    #   1. never driver-verified (no green row in any round), catalog order
    #   2. stale, oldest green round first (their signal is most out of
    #      date); within the same round, most expensive benched pipeline
    #      first — when a shared-module edit stales more names than one
    #      sweep can re-verify, the heaviest pipelines carry the most
    #      changed code, so their fresh signal is worth the most
    #   3. fresh (current code already has a green driver row), catalog order
    never = [n for n in names if n not in latest]
    cost = _bench_cost()
    stale = sorted(
        (n for n in names if n in latest and n not in fresh),
        key=lambda n: (latest[n], -cost.get(n, 0.0), names.index(n)),
    )
    return never + stale + [n for n in names if n in fresh]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: QUERIES[name].fn for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each query (omitted → rows-only check)."""
    return {
        name: QUERIES[name].oracle
        for name in _ordered_names()
        if QUERIES[name].oracle is not None
    }
