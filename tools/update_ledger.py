"""Fold a round's correctness rows into VERIFIED_LEDGER.json.

The ledger says, per query, which green still covers the current code.
Each entry holds the round of the query's last green, its ``source``
("driver" for the driver's CORRECTNESS_r{N}.json, "local" for a local
differential) and the md5 digests of what that green checked, taken
from the registry of the source tree that produced it:

  * ``oracle_md5``: the oracle SQL (null for rows-only queries);
  * ``fn_md5``: the registered function's source;
  * ``deps_md5_map``: {package file: md5} over the files the query
    reaches, plus ``<local>`` for the same-module helpers it uses
    (``queries.deps_md5_map``).

``queries.py`` ranks a query by whether these digests still match (see
its check-order comment), so an edit to an oracle, a querydef or an
operator sends the dependent queries back to the front of the driver's
sample.

Usage, when the source tree still matches the snapshot the driver
checked (otherwise pass that snapshot, unpacked, as ``--source``):

    python tools/update_ledger.py --round N [--source PATH]

Local differentials use the same rows, computed by drive_entry.py with
the driver's oracles, tables and comparison:

    python tools/drive_entry.py --json LOCAL.json [QUERY ...]
    python tools/update_ledger.py --round N --file LOCAL.json --tag local

Per row:
  * green (rows and schema match, hash not false, no err), or
    err == "no_oracle" with spark_rows recorded (rows-only queries)
      -> upsert {round, source, oracle_md5, fn_md5, deps_md5_map};
         a local fold keeps a driver entry whose digests all match;
  * anything else -> delete the entry (a red evicts an old green).
Queries absent from the rows keep their entries.

``--invalidate`` drops entries by hand; ``--restamp-deps REF`` re-encodes
``deps_md5_map`` after a change to the digest code itself, where the
files the digests cover are byte-identical to git REF.
"""

from __future__ import annotations

import argparse
import hashlib
import inspect
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _md5(text: str | None) -> str | None:
    if text is None:
        return None
    return hashlib.md5(text.encode()).hexdigest()


def _load() -> dict:
    path = REPO / "VERIFIED_LEDGER.json"
    return json.loads(path.read_text()) if path.exists() else {}


def _save(ledger: dict) -> None:
    (REPO / "VERIFIED_LEDGER.json").write_text(
        json.dumps(ledger, indent=1, sort_keys=True) + "\n"
    )


def _registry(source: Path):
    """Import the (queries, oracles, deps_md5_map) registry from a
    source tree; ``deps_md5_map`` is None for trees without it."""
    inserted = str(source)
    sys.path.insert(0, inserted)
    try:
        import __spark_entry__ as entry_mod  # noqa: PLC0415

        assert Path(entry_mod.__file__).resolve().parent == source.resolve()
        queries_mod = sys.modules.get("map_reduce_library_spark.queries")
        return (
            entry_mod.queries(),
            entry_mod.oracle_sql(),
            getattr(queries_mod, "deps_md5_map", None),
        )
    finally:
        # remove by value: the import may insert further entries at
        # index 0, so pop(0) could evict the wrong path
        try:
            sys.path.remove(inserted)
        except ValueError:
            pass


def _fn_md5(fn) -> str | None:
    try:
        return _md5(inspect.getsource(fn))
    except (OSError, TypeError):
        return None


def _is_green(row: dict) -> bool:
    return (
        not row.get("err")
        and bool(row.get("rows_match"))
        and bool(row.get("schema_match"))
        and row.get("hash_match") is not False
    )


def _is_rows_only_green(row: dict) -> bool:
    return row.get("err") == "no_oracle" and row.get("spark_rows") is not None


def merge_round(
    ledger: dict,
    rows: dict,
    queries: dict,
    oracles: dict,
    round_no: int,
    tag: str | None = None,
    deps_map_fn=None,
) -> dict:
    """Merge one round's correctness rows into ``ledger`` in place and
    return it (rules in the module docstring)."""
    for name, row in rows.items():
        if not isinstance(row, dict):
            continue
        if not (_is_green(row) or _is_rows_only_green(row)):
            ledger.pop(name, None)
            continue
        if name not in queries:
            continue  # renamed/removed since that snapshot
        entry = {
            "round": round_no,
            "oracle_md5": _md5(oracles.get(name)),
            "fn_md5": _fn_md5(queries[name]),
        }
        if deps_map_fn is not None:
            dmap = deps_map_fn(queries[name])
            if dmap is not None:
                entry["deps_md5_map"] = dmap
        if tag is not None:
            entry["source"] = tag
        # a local green of the code a driver green already covers adds
        # nothing: keep the driver's round and source
        prev = ledger.get(name)
        if (
            tag == "local"
            and isinstance(prev, dict)
            and prev.get("source") == "driver"
            and all(
                prev.get(k) == entry.get(k)
                for k in ("oracle_md5", "fn_md5", "deps_md5_map")
            )
        ):
            continue
        ledger[name] = entry
    return ledger


def update(
    round_no: int,
    source: Path,
    file: Path | None = None,
    tag: str | None = None,
) -> dict:
    correctness = file or REPO / f"CORRECTNESS_r{round_no:02d}.json"
    rows = json.loads(correctness.read_text())
    queries, oracles, deps_map_fn = _registry(source)
    ledger = _load()
    merge_round(ledger, rows, queries, oracles, round_no, tag, deps_map_fn)
    _save(ledger)
    return ledger


def restamp_deps(ref: str) -> tuple[int, int, int]:
    """Re-encode ``deps_md5_map`` after a change to the digest code
    (``queries.deps_md5_map``), keeping round and source, where that
    is provably honest. An entry is restamped iff:

      1. its ``fn_md5`` and ``oracle_md5`` match the current registry
         (these digests do not depend on the digest code), and
      2. every file its dependency closure touches (the querydef module
         itself, covering ``<local>``, plus the file keys of the old
         and new maps) is byte-identical between the working tree and
         git ``ref``, the commit the recorded green was checked on.

    Then the green's whole evidence is unchanged and only its encoding
    moved. Entries failing either gate stay stale and must re-verify."""
    import subprocess

    queries, oracles, deps_map_fn = _registry(REPO)
    if deps_map_fn is None:
        raise SystemExit("source tree has no deps_md5_map")
    ledger = _load()
    pkg = REPO / "map_reduce_library_spark"

    unchanged_cache: dict[str, bool] = {}

    def unchanged_since_ref(rel: str) -> bool:
        # rel is package-relative (the deps_md5_map key form)
        if rel in unchanged_cache:
            return unchanged_cache[rel]
        cur = pkg / rel
        try:
            cur_bytes = cur.read_bytes()
        except OSError:
            unchanged_cache[rel] = False
            return False
        got = subprocess.run(
            ["git", "-C", str(REPO), "show",
             f"{ref}:map_reduce_library_spark/{rel}"],
            capture_output=True,
        )
        ok = got.returncode == 0 and got.stdout == cur_bytes
        unchanged_cache[rel] = ok
        return ok

    stamped = fresh_already = skipped = 0
    for name, entry in ledger.items():
        if not isinstance(entry, dict) or name not in queries:
            skipped += 1
            continue
        fn = queries[name]
        if (
            entry.get("oracle_md5") != _md5(oracles.get(name))
            or entry.get("fn_md5") != _fn_md5(fn)
        ):
            skipped += 1
            continue
        new_map = deps_map_fn(fn)
        old_map = entry.get("deps_md5_map") or {}
        if new_map == old_map:
            fresh_already += 1
            continue
        # gate: every file either closure touches is identical to ref
        gate_files = {
            k for k in list(old_map) + list(new_map or {})
            if k != "<local>"
        }
        mod = sys.modules.get(getattr(fn, "__module__", "") or "")
        mod_file = getattr(mod, "__file__", None)
        if mod_file is None:
            skipped += 1
            continue
        try:
            gate_files.add(
                str(Path(mod_file).resolve().relative_to(pkg.resolve()))
            )
        except ValueError:
            skipped += 1
            continue
        if new_map is None or not all(
            unchanged_since_ref(rel) for rel in sorted(gate_files)
        ):
            skipped += 1
            continue
        entry["deps_md5_map"] = new_map
        stamped += 1
    _save(ledger)
    return stamped, fresh_already, skipped


def invalidate(names: list[str]) -> dict:
    """Drop ledger entries by name, for a demotion no digest catches."""
    ledger = _load()
    for name in names:
        ledger.pop(name, None)
    _save(ledger)
    return ledger


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int)
    ap.add_argument("--source", type=Path, default=REPO)
    ap.add_argument("--invalidate", nargs="+", metavar="QUERY")
    ap.add_argument("--file", type=Path, help="correctness rows to fold "
                    "(default CORRECTNESS_r{N}.json; pass drive_entry's "
                    "--json output for a local differential)")
    ap.add_argument("--tag", help="stamp upserted entries with source=TAG "
                    "(use 'local' for drive_entry folds)")
    ap.add_argument("--restamp-deps", metavar="REF",
                    help="after a digest-code change: re-encode "
                    "deps_md5_map in place for entries whose fn/oracle "
                    "match and whose whole dep closure is byte-identical "
                    "to git REF (preserves round and source)")
    args = ap.parse_args()
    if args.restamp_deps:
        stamped, fresh, skipped = restamp_deps(args.restamp_deps)
        print(f"ledger: restamped deps on {stamped} entries "
              f"({fresh} already current, {skipped} left for re-verify)")
        return
    if args.invalidate:
        ledger = invalidate(args.invalidate)
        print(f"ledger: {len(ledger)} entries after invalidating "
              f"{args.invalidate}")
        return
    if args.round is None:
        ap.error("--round is required unless --invalidate is given")
    if args.tag is None and args.file is None:
        # a fold without --file reads the driver's own
        # CORRECTNESS_r{N}.json, so its greens are driver greens
        args.tag = "driver"
    ledger = update(args.round, args.source, args.file, args.tag)
    print(f"ledger: {len(ledger)} verified entries after round {args.round}")


if __name__ == "__main__":
    main()
