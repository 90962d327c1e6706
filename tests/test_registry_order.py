"""Registry ordering: the driver checks queries in registration order
with a cap, so the registry is sorted by the one tier rule in
queries.py — never-green, own source changed, a dependency changed,
fresh from a local run, fresh from the driver — derived from the
committed VERIFIED_LEDGER.json (built by tools/update_ledger.py from
the CORRECTNESS_r*.json artifacts) rather than hand-maintained."""

from __future__ import annotations

import hashlib
import inspect
import json
from pathlib import Path

from map_reduce_library_spark import queries as q

REPO = Path(__file__).resolve().parents[1]

GREEN = {"rows_match": True, "schema_match": True, "hash_match": True,
         "spark_rows": 1, "oracle_rows": 1, "err": None}
ROWS_ONLY = {"rows_match": None, "schema_match": None, "hash_match": None,
             "spark_rows": 5, "oracle_rows": None, "err": "no_oracle"}


def _md5(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


def _fresh_entry(name: str, rnd: int, source: str) -> dict:
    fn = q.QUERIES[name]
    oracle = q.ORACLES.get(name)
    return {
        "round": rnd,
        "source": source,
        "oracle_md5": None if oracle is None else _md5(oracle),
        "fn_md5": _md5(inspect.getsource(fn)),
        "deps_md5_map": q.deps_md5_map(fn),
    }


def _write_ledger(folder: Path, ledger: dict, correctness=None) -> Path:
    """Write ``ledger`` into ``folder`` beside the CORRECTNESS rows the
    tiers read: ``correctness`` as CORRECTNESS_r01.json, or links to the
    committed CORRECTNESS_r*.json files when it is None."""
    if correctness is None:
        for p in REPO.glob("CORRECTNESS_r*.json"):
            (folder / p.name).symlink_to(p)
    else:
        (folder / "CORRECTNESS_r01.json").write_text(json.dumps(correctness))
    path = folder / "VERIFIED_LEDGER.json"
    path.write_text(json.dumps(ledger))
    return path


def test_verified_subset_of_ledger_and_hash_validated():
    ledger = json.loads((REPO / "VERIFIED_LEDGER.json").read_text())
    fresh = {n: r for n, (t, r) in q._TIERS.items() if t >= 3}
    assert fresh
    for name, rnd in fresh.items():
        entry = ledger[name]
        assert entry["round"] == rnd
        oracle = q.ORACLES.get(name)
        assert entry["oracle_md5"] == (None if oracle is None else _md5(oracle))
        assert entry["fn_md5"] == _md5(inspect.getsource(q.QUERIES[name]))
        assert entry["deps_md5_map"] == q.deps_md5_map(q.QUERIES[name])
        assert q._TIERS[name][0] == (
            3 if entry.get("source") == "local" else 4
        )


def test_stale_entries_are_demoted():
    """A ledger entry whose recorded oracle hash no longer matches the
    current oracle must NOT count verified."""
    ledger = json.loads((REPO / "VERIFIED_LEDGER.json").read_text())
    for name, entry in ledger.items():
        if name not in q.QUERIES:
            continue
        oracle = q.ORACLES.get(name)
        current = None if oracle is None else _md5(oracle)
        if entry.get("oracle_md5") != current:
            assert q._TIERS[name][0] <= 1, (
                f"{name!r} counts verified despite a changed oracle"
            )


def test_later_red_evicts_earlier_green(tmp_path, monkeypatch):
    """tools/update_ledger.py: a red row in round N+1 must remove the
    ledger entry a green row in round N created."""
    import tools.update_ledger as ul

    monkeypatch.setattr(ul, "REPO", tmp_path)
    red = dict(GREEN, hash_match=False)
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"qx": GREEN}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"qx": red}))

    def fake_registry(_source):
        def qx():
            return None

        return {"qx": qx}, {"qx": "SELECT 1"}, None

    monkeypatch.setattr(ul, "_registry", fake_registry)
    ledger = ul.update(1, tmp_path)
    assert "qx" in ledger and ledger["qx"]["round"] == 1
    ledger = ul.update(2, tmp_path)
    assert "qx" not in ledger


def test_rows_only_green_counts_verified(tmp_path, monkeypatch):
    """err == 'no_oracle' with rows recorded is as green as that query
    can ever get; it must enter the ledger."""
    import tools.update_ledger as ul

    monkeypatch.setattr(ul, "REPO", tmp_path)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"qs": ROWS_ONLY})
    )

    def fake_registry(_source):
        def qs():
            return None

        return {"qs": qs}, {}, None

    monkeypatch.setattr(ul, "_registry", fake_registry)
    ledger = ul.update(1, tmp_path)
    assert ledger["qs"]["oracle_md5"] is None


def test_no_oracle_sketches_do_not_hog_cap_slots():
    """The three rows-only sketches were driver-checked in round 3;
    they must sit in the verified block, not permanently first."""
    for name in ("approx_distinct_users", "approx_quantiles_price",
                 "hll_sketch_rollup_daily"):
        assert q._TIERS[name][0] >= 3


def test_unverified_before_verified():
    """Tiers never decrease along the check order, so every unverified
    query (tiers 0-2) precedes every verified one (tiers 3-4), and no
    driver-fresh query takes a slot while a lower tier waits."""
    tiers = [q._TIERS[n][0] for n in q.QUERIES]
    assert tiers == sorted(tiers)
    assert set(q._TIERS) == set(q.QUERIES)


def test_oracled_before_rows_only_within_unverified():
    """Within each tier (the unverified ones included), oracled queries
    precede rows-only ones."""
    for tier in range(5):
        block = [n for n in q.QUERIES if q._TIERS[n][0] == tier]
        oracled = [n in q.ORACLES for n in block]
        assert oracled == sorted(oracled, reverse=True), tier


def test_verified_recheck_oldest_green_first():
    """Within each (tier, oracled) block, re-checks run in ascending
    last-green-round order so no family drifts stale."""
    blocks: dict[tuple, list[int]] = {}
    for n in q.QUERIES:
        tier, rnd = q._TIERS[n]
        blocks.setdefault((tier, n in q.ORACLES), []).append(rnd)
    for key, rounds in blocks.items():
        assert rounds == sorted(rounds), key


def test_check_order_one_query_per_tier(tmp_path):
    """A synthetic ledger with one query per tier, plus a rows-only
    query in tier 3, orders by tier first, oracled before rows-only
    within a tier, and only then by round and name: the names and
    rounds are chosen so that sorting by either alone gives another
    order."""
    oracled = sorted(
        (n for n in q.QUERIES
         if n in q.ORACLES and q.deps_md5_map(q.QUERIES[n]) is not None),
        reverse=True,
    )
    t0, t1, t2, t3, t4 = oracled[:5]
    rows_only = next(n for n in q.QUERIES if n not in q.ORACLES)
    ledger = {
        t0: _fresh_entry(t0, 10, "driver"),  # fresh, but never green
        t1: dict(_fresh_entry(t1, 9, "driver"), fn_md5="0" * 32),
        t2: _fresh_entry(t2, 8, "driver"),
        t3: _fresh_entry(t3, 7, "local"),
        rows_only: _fresh_entry(rows_only, 1, "local"),
        t4: _fresh_entry(t4, 6, "driver"),
    }
    ledger[t2]["deps_md5_map"] = dict(
        ledger[t2]["deps_md5_map"], **{"<local>": "0" * 32}
    )
    rows = {t1: GREEN, t2: GREEN, t3: GREEN, t4: GREEN,
            rows_only: ROWS_ONLY}
    tiers = q._load_verified(_write_ledger(tmp_path, ledger, rows))
    assert [tiers[n] for n in (t0, t1, t2, t3, rows_only, t4)] == [
        (0, 10), (1, 9), (2, 8), (3, 7), (3, 1), (4, 6)
    ]
    mine = set(ledger)
    assert [n for n in q._check_order(tiers) if n in mine] == [
        t0, t1, t2, t3, rows_only, t4
    ]
    # every query without a ledger entry is tier 0 or 1
    assert {t for n, (t, _) in tiers.items() if n not in mine} <= {0, 1}


def test_lsh_family_reverified_in_ledger():
    """The round-3 stale/broken MinHash-LSH family went green in round
    4 (CORRECTNESS_r04); the ledger must record a round-4+ green.
    Checked against the raw ledger, not the tiers: a later operator
    edit legitimately demotes these to re-check, but it must never
    erase the recorded green."""
    ledger = json.loads((REPO / "VERIFIED_LEDGER.json").read_text())
    for name in ("minhash_lsh_pairs", "ngram_jaccard_lsh", "dedup_clusters",
                 "dedup_keep_best", "triangle_count_near_dup_graph",
                 "pagerank_near_dup_graph"):
        assert ledger.get(name, {}).get("round", 0) >= 4, (
            f"{name} has no round-4+ green recorded"
        )


def test_red_round_evicts_earlier_green():
    """The ledger's eviction rule, pinned with synthetic fixtures: a
    query green in round 1 then RED in round 2 must be DELETED from the
    ledger — a regressed query's old green is not evidence. Exercises
    tools.update_ledger.merge_round directly; the test fails if the
    red->DELETE branch is removed."""
    import sys

    sys.path.insert(0, str(REPO))
    try:
        from tools.update_ledger import merge_round
    finally:
        sys.path.pop(0)

    def fake_query(spark, sf_dir):  # pragma: no cover - hashed only
        return None

    queries = {"synthetic_q": fake_query}
    oracles = {"synthetic_q": "SELECT 1 AS one"}
    red = dict(GREEN, hash_match=False)

    ledger: dict = {}
    merge_round(ledger, {"synthetic_q": GREEN}, queries, oracles, 1)
    assert ledger["synthetic_q"]["round"] == 1

    merge_round(ledger, {"synthetic_q": red}, queries, oracles, 2)
    assert "synthetic_q" not in ledger, "round-2 red must evict the r1 green"

    # an err row evicts too
    merge_round(ledger, {"synthetic_q": GREEN}, queries, oracles, 3)
    merge_round(
        ledger,
        {"synthetic_q": dict(GREEN, err="boom")},
        queries,
        oracles,
        4,
    )
    assert "synthetic_q" not in ledger

    # absence keeps the entry (un-sampled queries stay verified)
    merge_round(ledger, {"synthetic_q": GREEN}, queries, oracles, 5)
    merge_round(ledger, {}, queries, oracles, 6)
    assert ledger["synthetic_q"]["round"] == 5


def test_local_fold_never_downgrades_fresh_driver_provenance():
    """A LOCAL fold over a driver-tagged entry whose hashes are
    unchanged keeps the driver entry (source AND round) — the driver's
    green still covers the current source, and the driver-vs-local
    tier must not lose it. When the source HAS changed (different fn
    hash), the local green takes over."""
    import sys

    sys.path.insert(0, str(REPO))
    try:
        from tools.update_ledger import merge_round
    finally:
        sys.path.pop(0)

    def fake_query(spark, sf_dir):  # pragma: no cover - hashed only
        return None

    queries = {"synthetic_q": fake_query}
    oracles = {"synthetic_q": "SELECT 1 AS one"}

    ledger: dict = {}
    merge_round(ledger, {"synthetic_q": GREEN}, queries, oracles, 8,
                tag="driver")
    assert ledger["synthetic_q"]["source"] == "driver"

    # same source -> local fold is a no-op on the entry
    merge_round(ledger, {"synthetic_q": GREEN}, queries, oracles, 9,
                tag="local")
    assert ledger["synthetic_q"]["source"] == "driver"
    assert ledger["synthetic_q"]["round"] == 8

    # changed source (simulate by mutating the stored fn hash) ->
    # local green must take over
    ledger["synthetic_q"]["fn_md5"] = "stale"
    merge_round(ledger, {"synthetic_q": GREEN}, queries, oracles, 9,
                tag="local")
    assert ledger["synthetic_q"]["source"] == "local"
    assert ledger["synthetic_q"]["round"] == 9

    # and a DRIVER fold always overwrites (fresh driver evidence)
    merge_round(ledger, {"synthetic_q": GREEN}, queries, oracles, 10,
                tag="driver")
    assert ledger["synthetic_q"]["source"] == "driver"
    assert ledger["synthetic_q"]["round"] == 10


def test_operator_rewrite_demotes_dependents(tmp_path):
    """A ledger entry whose recorded deps_md5_map no longer matches the
    files the query reaches must drop to tier 2, even with oracle and
    querydef text unchanged: corrupt one fresh entry's map in a copy of
    the ledger and re-rank."""
    ledger = json.loads((REPO / "VERIFIED_LEDGER.json").read_text())
    name = next(
        n for n in q.QUERIES if n in q.ORACLES and q._TIERS[n][0] >= 3
    )
    assert ledger[name]["deps_md5_map"] == q.deps_md5_map(q.QUERIES[name])
    ledger[name]["deps_md5_map"]["<local>"] = "0" * 32
    tiers = q._load_verified(_write_ledger(tmp_path, ledger))
    assert tiers[name] == (2, q._TIERS[name][1]), (
        f"{name!r} counts verified despite a stale dependency digest"
    )


def test_deps_md5_map_is_per_query_not_per_module():
    """The per-query map must NOT charge a sibling query for a
    function-local cross-module import. Concretely: querydefs/dedup.py
    has one query whose body imports from querydefs.similarity (pulling
    operators/ann_index.py), yet e.g. exact_dedup_docs (same module)
    never touches ann_index — under a per-module closure an ann_index
    edit would demote all 26 dedup queries; under the map it must
    demote only genuine dependents."""
    dedup_queries = [
        (n, fn) for n, fn in q.QUERIES.items()
        if fn.__module__ == "map_reduce_library_spark.querydefs.dedup"
    ]
    assert len(dedup_queries) > 10
    with_ann = [
        n for n, fn in dedup_queries
        if "operators/ann_index.py" in (q.deps_md5_map(fn) or {})
    ]
    without_ann = [
        n for n, fn in dedup_queries
        if "operators/ann_index.py" not in (q.deps_md5_map(fn) or {})
    ]
    assert "exact_dedup_docs" in dict(dedup_queries)
    # most dedup queries' per-query maps must not charge ann_index
    assert len(without_ann) > len(with_ann), (
        f"map granularity regressed: {len(with_ann)} dedup queries "
        f"charge ann_index.py, only {len(without_ann)} don't"
    )
    assert "exact_dedup_docs" in without_ann


def test_deps_md5_map_covers_called_operators():
    """A query that calls into an operator module records that module's
    file digest, so rewriting the operator demotes it; the top-level
    tables module counts too (querydefs import load_table from it)."""
    fn = q.QUERIES["ivf_kmeans_topk"]
    m = q.deps_md5_map(fn)
    assert m is not None
    assert "operators/similarity.py" in m
    assert m["operators/similarity.py"] == hashlib.md5(
        (Path(q.__file__).parent / "operators" / "similarity.py")
        .read_bytes()
    ).hexdigest()
    # and the wordcount flagship charges its operator + tables
    wc = q.deps_md5_map(q.QUERIES["wordcount"])
    assert "operators/wordcount.py" in wc
    assert "tables.py" in wc


def _demoted_by(tmp_path, name: str, dep: str) -> tuple[int, int]:
    """Tier and round of ``name`` after the committed ledger's digest
    of ``dep`` in its map is replaced by one no file has."""
    ledger = json.loads((REPO / "VERIFIED_LEDGER.json").read_text())
    assert dep in ledger[name]["deps_md5_map"]
    ledger[name]["deps_md5_map"][dep] = "0" * 32
    return q._load_verified(_write_ledger(tmp_path, ledger))[name]


def test_deps_md5_covers_called_operators(tmp_path):
    """ivf_kmeans_topk calls into operators/similarity.py, so a change
    to that file's bytes alone must drop the query to tier 2."""
    name = "ivf_kmeans_topk"
    tier, rnd = q._TIERS[name]
    assert tier >= 3, f"{name!r} is not fresh in the committed ledger"
    assert _demoted_by(tmp_path, name, "operators/similarity.py") == (
        2, rnd
    )


def test_deps_md5_covers_top_level_tables_module(tmp_path):
    """querydefs import load_table from the top-level tables module, so
    a change to tables.py alone must drop wordcount to tier 2."""
    name = "wordcount"
    tier, rnd = q._TIERS[name]
    assert tier >= 3, f"{name!r} is not fresh in the committed ledger"
    assert _demoted_by(tmp_path, name, "tables.py") == (2, rnd)


def test_deps_md5_map_local_helper_digest_tracks_helpers():
    """<local> hashes the same-module helpers the query's slice
    reaches, so a helper rewrite demotes its users without touching
    siblings: recompute the map for two queries of one module and
    assert their <local> digests differ when their helper sets differ
    (if every pair were identical the slice would be module-level
    again)."""
    by_mod: dict[str, list] = {}
    for n, fn in q.QUERIES.items():
        by_mod.setdefault(fn.__module__, []).append((n, fn))
    diverse = 0
    for mod, entries in by_mod.items():
        locals_ = {
            (q.deps_md5_map(fn) or {}).get("<local>") for _, fn in entries
        }
        if len(locals_) > 1:
            diverse += 1
    assert diverse >= 5, (
        "per-query <local> digests collapsed to per-module values"
    )


def test_deps_md5_map_none_without_source():
    """A query whose source is unavailable (lambda/partial) gets no map
    rather than a crash or a bogus one; _load_verified then ranks it
    tier 2."""
    fn = eval("lambda spark, sf: None")  # no retrievable source slice
    fn.__module__ = "map_reduce_library_spark.querydefs.wordcount"
    assert q.deps_md5_map(fn) is None


def test_module_slices_always_include_compound_statements(tmp_path):
    """A try/if-guarded top-level import — none exist in the corpus
    today — must land in EVERY query's slice rather than escape the
    staleness hash. Pinned by parsing a synthetic module through the
    real _module_slices and asserting the compound statement arrives
    with names=None (always-included) while the docstring stays
    excluded."""
    import sys
    import types

    src = tmp_path / "synthmod.py"
    src.write_text(
        '"""docstring — excluded"""\n'
        "import os\n"
        "try:\n"
        "    from map_reduce_library_spark.operators import dedup\n"
        "except ImportError:\n"
        "    dedup = None\n"
        "X = 1\n"
    )
    mod = types.ModuleType("synthmod_for_slices")
    mod.__file__ = str(src)
    sys.modules["synthmod_for_slices"] = mod
    try:
        _, top_defs, header_stmts = q._module_slices(
            "synthmod_for_slices"
        )
    finally:
        sys.modules.pop("synthmod_for_slices", None)
    kinds = [(names, seg.split("\n")[0]) for names, seg, _ in header_stmts]
    # the try-import is always-included (names=None)
    assert any(names is None and first.startswith("try:")
               for names, first in kinds), kinds
    # plain import and assignment keep their name gates
    assert any(names == frozenset({"os"}) for names, _ in kinds)
    assert any(names == frozenset({"X"}) for names, _ in kinds)
    # the docstring produced no header statement
    assert not any("docstring" in first for _, first in kinds)


def test_querydefs_have_no_dynamic_same_module_references():
    """deps_md5_map's reachability fixpoint matches helper names as
    literal words, so a same-module helper reached only via a
    dynamically constructed name (globals()[f"impl_{x}"], getattr with
    a computed string) would be under-included — its edits would not
    demote the query's green. Enforce the documented constraint
    (queries.py, deps_md5_map): no querydef module may call globals()
    or use getattr/get on a NON-LITERAL attribute name at all. eval/
    exec are banned for the same reason."""
    import ast

    pkg = Path(q.__file__).resolve().parent
    offenders = []
    for mod_path in sorted((pkg / "querydefs").glob("*.py")):
        tree = ast.parse(mod_path.read_text())
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            fname = node.func.id if isinstance(node.func, ast.Name) else None
            if fname in ("globals", "vars", "eval", "exec"):
                offenders.append(f"{mod_path.name}:{node.lineno} {fname}()")
            if fname == "getattr" and len(node.args) >= 2:
                if not isinstance(node.args[1], ast.Constant):
                    offenders.append(
                        f"{mod_path.name}:{node.lineno} "
                        "getattr with computed name"
                    )
    assert not offenders, (
        "dynamic name references defeat the staleness slicer:\n"
        + "\n".join(offenders)
    )


def test_module_slices_include_decorators_in_digest(tmp_path):
    """node.lineno for a decorated def is the def line — the slicer
    must start at the decorator so a behavior-bearing decorator change
    perturbs the <local> digest instead of surviving a stale green."""
    import sys
    import textwrap
    import types

    src = tmp_path / "synthmod_decorated.py"
    src.write_text(textwrap.dedent("""
        def deco(fn):
            return fn

        @deco
        def helper():
            return 1
    """))
    mod = types.ModuleType("synthmod_decorated")
    mod.__file__ = str(src)
    sys.modules["synthmod_decorated"] = mod
    try:
        _, top_defs, _ = q._module_slices("synthmod_decorated")
    finally:
        sys.modules.pop("synthmod_decorated", None)
    seg, words = top_defs["helper"]
    assert seg.lstrip().startswith("@deco"), seg
    assert "deco" in words  # the decorator name flows into the
    # word set, so editing the decorator body demotes dependents
