"""Query registry: the driver-checked corpus.

Every implemented operator from SURVEY.md §2 registers here as a
``(name, spark_callable, oracle_sql)`` triple. The spark callable takes
``(spark, sf_dir)`` and returns a DataFrame; the oracle is ANSI SQL
DuckDB runs on the same parquet (omitted only for genuinely
non-SQL-expressible operators — the driver then records a weaker
rows-only check).

Column-name discipline: every computed column is aliased identically in
the Spark plan and the SQL so the driver's sorted-by-name value hash
compares apples to apples.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import inspect
import json
import re
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: add a query (and its DuckDB oracle) to the corpus."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


# Registration modules (import side-effects populate the registry).
# Import order does not set the check order; _check_order at the bottom
# of this file does. dedup composes text's oracle SQL, so text imports
# first.
from map_reduce_library_spark.querydefs import mapreduce_parity  # noqa: E402,F401
from map_reduce_library_spark.querydefs import text  # noqa: E402,F401
from map_reduce_library_spark.querydefs import dedup  # noqa: E402,F401  (needs text's oracle)
from map_reduce_library_spark.querydefs import similarity  # noqa: E402,F401
from map_reduce_library_spark.querydefs import streaming  # noqa: E402,F401
from map_reduce_library_spark.querydefs import temporal  # noqa: E402,F401
from map_reduce_library_spark.querydefs import eventsql  # noqa: E402,F401
from map_reduce_library_spark.querydefs import pipeline  # noqa: E402,F401
from map_reduce_library_spark.querydefs import multimodal  # noqa: E402,F401
from map_reduce_library_spark.querydefs import extensibility  # noqa: E402,F401
from map_reduce_library_spark.querydefs import cogroup  # noqa: E402,F401
from map_reduce_library_spark.querydefs import skewq  # noqa: E402,F401
from map_reduce_library_spark.querydefs import relational10  # noqa: E402,F401
from map_reduce_library_spark.querydefs import relational9  # noqa: E402,F401
from map_reduce_library_spark.querydefs import approx  # noqa: E402,F401
from map_reduce_library_spark.querydefs import wordcount  # noqa: E402,F401
from map_reduce_library_spark.querydefs import relational  # noqa: E402,F401
from map_reduce_library_spark.querydefs import relational2  # noqa: E402,F401
from map_reduce_library_spark.querydefs import relational3  # noqa: E402,F401
from map_reduce_library_spark.querydefs import relational4  # noqa: E402,F401
from map_reduce_library_spark.querydefs import relational5  # noqa: E402,F401
from map_reduce_library_spark.querydefs import relational6  # noqa: E402,F401
from map_reduce_library_spark.querydefs import relational7  # noqa: E402,F401
from map_reduce_library_spark.querydefs import relational8  # noqa: E402,F401
from map_reduce_library_spark.querydefs import relational11  # noqa: E402,F401
from map_reduce_library_spark.querydefs import bloomq  # noqa: E402,F401
from map_reduce_library_spark.querydefs import variantq  # noqa: E402,F401
from map_reduce_library_spark.querydefs import lm  # noqa: E402,F401
from map_reduce_library_spark.querydefs import cmsq  # noqa: E402,F401
from map_reduce_library_spark.querydefs import bpe  # noqa: E402,F401
from map_reduce_library_spark.querydefs import retrieval  # noqa: E402,F401
from map_reduce_library_spark.querydefs import expectations  # noqa: E402,F401
from map_reduce_library_spark.querydefs import spans  # noqa: E402,F401
from map_reduce_library_spark.querydefs import manifests  # noqa: E402,F401
from map_reduce_library_spark.querydefs import maintenanceq  # noqa: E402,F401
from map_reduce_library_spark.querydefs import embingest  # noqa: E402,F401

# Check order. The driver re-checks only the first entries of QUERIES,
# so the registry is ordered by risk. VERIFIED_LEDGER.json (written by
# tools/update_ledger.py from CORRECTNESS_r*.json rows) holds, per
# query, the round and source ("driver" or "local") of its last green
# and md5 digests of what that green covered: the oracle SQL
# (oracle_md5), the registered function's source (fn_md5) and every
# package file the query reaches (deps_md5_map). Each query gets one
# tier:
#   0  no green row in any CORRECTNESS_r*.json beside the ledger
#   1  no ledger entry (a red evicted it), or its oracle or source changed
#   2  a file in its deps_md5_map changed, or the map cannot be computed
#   3  fresh, last green from a local differential
#   4  fresh, last green from the driver
# and the order is (tier, rows-only, ledger round, name): oracled
# queries before rows-only ones, oldest green first.

_LEDGER = Path(__file__).resolve().parents[1] / "VERIFIED_LEDGER.json"
_PKG = Path(__file__).resolve().parent
# Package files a source text depends on: querydef, operator, streaming,
# core and source modules, and the top-level tables/session modules.
_DEP_RE = re.compile(
    r"map_reduce_library_spark\.(operators|streaming|core|sources"
    r"|querydefs)\.(\w+)"
)
_TOP_RE = re.compile(r"map_reduce_library_spark\.(tables|session)\b")
_WORDS = re.compile(r"\w+")


def _md5(text: str | None) -> str | None:
    return None if text is None else hashlib.md5(text.encode()).hexdigest()


@functools.cache
def _source(fn) -> str | None:
    """The registered function's source text; None if unavailable."""
    try:
        return inspect.getsource(fn)
    except (OSError, TypeError):
        return None


@functools.cache
def _file_md5(path: Path) -> str | None:
    try:
        return hashlib.md5(path.read_bytes()).hexdigest()
    except OSError:
        return None


def _refs_of(text: str) -> set[Path]:
    found: set[Path] = set()
    for m in _DEP_RE.finditer(text):
        dp = (_PKG / m.group(1) / (m.group(2) + ".py")).resolve()
        if dp.exists():
            found.add(dp)
    for m in _TOP_RE.finditer(text):
        dp = (_PKG / (m.group(1) + ".py")).resolve()
        if dp.exists():
            found.add(dp)
    return found


@functools.cache
def _file_refs(path: Path) -> set[Path]:
    try:
        return _refs_of(path.read_text())
    except OSError:
        return set()


@functools.cache
def _module_slices(mod_name: str):
    """Parse a querydef module once into (src_path, top_defs,
    header_stmts): ``top_defs`` maps each top-level function/class name
    to (segment, word set); ``header_stmts`` is a list of (bound_names,
    segment, word set) for top-level imports, assignments and any other
    statement (bound_names None: always included). All three are None
    when the module's source cannot be read or parsed."""
    mod = sys.modules.get(mod_name)
    src_path = getattr(mod, "__file__", None)
    if src_path is None:
        return None, None, None
    try:
        text = Path(src_path).read_text()
        tree = ast.parse(text)
    except (OSError, SyntaxError):
        return None, None, None
    lines = text.splitlines(keepends=True)

    def segment(node) -> str:
        # line-sliced (column-inclusive head/tail) — same result as
        # ast.get_source_segment for top-level statements without its
        # per-call O(file) text scan
        try:
            s, e = node.lineno - 1, node.end_lineno
        except AttributeError:
            return ""
        col = node.col_offset
        decorators = getattr(node, "decorator_list", None)
        if decorators:
            # a decorated def's lineno is the def line; start at the
            # first decorator so a decorator edit moves the <local>
            # digest of every query that reaches the def
            s = min(d.lineno for d in decorators) - 1
            col = 0
        seg_lines = list(lines[s:e])
        if not seg_lines:
            return ""
        seg_lines[-1] = seg_lines[-1][: node.end_col_offset]
        seg_lines[0] = seg_lines[0][col:]
        return "".join(seg_lines)

    # word sets make the reachability fixpoint linear instead of
    # rescanning a growing text blob with per-name regexes
    top_defs: dict[str, tuple[str, frozenset]] = {}
    header_stmts: list[tuple[frozenset | None, str, frozenset]] = []
    for node in tree.body:
        seg = segment(node)
        seg_words = frozenset(_WORDS.findall(seg))
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            top_defs[node.name] = (seg, seg_words)
        elif isinstance(node, ast.Import):
            names = frozenset(
                (a.asname or a.name.split(".")[0]) for a in node.names
            )
            header_stmts.append((names, seg, seg_words))
        elif isinstance(node, ast.ImportFrom):
            names = frozenset((a.asname or a.name) for a in node.names)
            header_stmts.append((names, seg, seg_words))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [
                node.target
            ]
            bound: set[str] = set()
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        bound.add(n.id)
            header_stmts.append((frozenset(bound), seg, seg_words))
        elif not (
            isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Constant)
        ):
            # any other top-level statement (a try/if-guarded import, a
            # loop building a registry, a side-effecting call) has no
            # bound-name gate, so it is in every query's slice;
            # docstrings and bare constants stay out
            header_stmts.append((None, seg, seg_words))
    return src_path, top_defs, header_stmts


@functools.cache
def deps_md5_map(fn) -> dict[str, str] | None:
    """Per-query dependency digests: {package-relative path: md5} over
    the package files ``fn``'s slice of its querydef module reaches,
    plus a ``"<local>"`` digest of the same-module helpers it uses.

    The slice is the registered function's source, plus (to a fixpoint)
    every top-level def or class of the same module whose name it
    references and every top-level import or assignment whose bound
    name it references. Files referenced from the slice expand
    transitively by whole-file scan, so an operator edit demotes
    exactly the queries that reach that operator. None when the
    function's source or its module's source is unavailable.

    Names match as literal words, which over-includes (a name inside an
    oracle SQL string counts), the safe direction for a staleness
    digest; a helper reached only through a computed name
    (``globals()[...]``, ``getattr`` with a computed string) would be
    missed, so querydef modules must not use them
    (tests/test_registry_order.py::
    test_querydefs_have_no_dynamic_same_module_references)."""
    src_path, top_defs, header_stmts = _module_slices(
        getattr(fn, "__module__", None)
    )
    fn_src = _source(fn)
    if src_path is None or fn_src is None:
        return None

    seen_words: set[str] = set(_WORDS.findall(fn_src))
    included_defs: dict[str, str] = {}
    included_headers: list[str] = []
    header_used = [False] * len(header_stmts)
    parts = [fn_src]
    changed = True
    while changed:
        changed = False
        for dname, (dseg, dwords) in top_defs.items():
            if dname in included_defs or dname == getattr(
                fn, "__name__", None
            ):
                continue
            if dname in seen_words:
                included_defs[dname] = dseg
                parts.append(dseg)
                seen_words |= dwords
                changed = True
        for i, (names, seg, seg_words) in enumerate(header_stmts):
            if header_used[i]:
                continue
            if names is None or not names.isdisjoint(seen_words):
                header_used[i] = True
                included_headers.append(seg)
                parts.append(seg)
                seen_words |= seg_words
                changed = True

    own = Path(src_path).resolve()
    visited: set[Path] = {own}
    dep_files: set[Path] = set()
    stack: list[Path] = [p for p in _refs_of("\n".join(parts)) if p != own]
    dep_files.update(stack)
    while stack:
        p = stack.pop()
        visited.add(p)
        for dp in _file_refs(p):
            if dp != own and dp not in visited and dp not in dep_files:
                dep_files.add(dp)
                stack.append(dp)

    out: dict[str, str] = {}
    for dp in sorted(dep_files):
        digest = _file_md5(dp)
        if digest is not None:
            out[str(dp.relative_to(_PKG))] = digest
    lh = hashlib.md5()
    for dname in sorted(included_defs):
        lh.update(dname.encode())
        lh.update(included_defs[dname].encode())
    for seg in sorted(included_headers):
        lh.update(seg.encode())
    out["<local>"] = lh.hexdigest()
    return out


def _ever_green(folder: Path) -> set[str]:
    """Names with a green row in any CORRECTNESS_r*.json in ``folder``:
    rows, schema and hash match with no error, or a rows-only row for a
    query without an oracle (the rows tools/update_ledger.py folds as
    green)."""
    green: set[str] = set()
    for p in folder.glob("CORRECTNESS_r*.json"):
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict):
                continue
            hash_green = (
                row.get("err") is None
                and bool(row.get("rows_match"))
                and bool(row.get("schema_match"))
                and row.get("hash_match") is not False
            )
            rows_only_green = (
                row.get("err") == "no_oracle"
                and row.get("spark_rows") is not None
            )
            if hash_green or rows_only_green:
                green.add(name)
    return green


def _load_verified(
    ledger_path: Path = _LEDGER,
) -> dict[str, tuple[int, int]]:
    """name -> (tier, ledger round) for every registered query, from
    the ledger at ``ledger_path`` and the CORRECTNESS_r*.json files
    beside it (tiers as described above; round 0 without an entry)."""
    try:
        ledger = json.loads(ledger_path.read_text())
    except (OSError, ValueError):
        ledger = {}
    ever_green = _ever_green(ledger_path.parent)
    out: dict[str, tuple[int, int]] = {}
    for name, fn in QUERIES.items():
        entry = ledger.get(name)
        if not isinstance(entry, dict):
            entry = {}
        if name not in ever_green:
            tier = 0
        elif not entry or (entry.get("oracle_md5"), entry.get("fn_md5")) != (
            _md5(ORACLES.get(name)), _md5(_source(fn))
        ):
            tier = 1
        elif deps_md5_map(fn) is None or (
            entry.get("deps_md5_map") != deps_md5_map(fn)
        ):
            tier = 2
        else:
            tier = 3 if entry.get("source") == "local" else 4
        out[name] = (tier, int(entry.get("round", 0)))
    return out


def _check_order(tiers: dict[str, tuple[int, int]]) -> list[str]:
    return sorted(
        tiers,
        key=lambda n: (tiers[n][0], n not in ORACLES, tiers[n][1], n),
    )


_TIERS = _load_verified()
_order = _check_order(_TIERS)
QUERIES = {n: QUERIES[n] for n in _order}
ORACLES = {n: ORACLES[n] for n in _order if n in ORACLES}
