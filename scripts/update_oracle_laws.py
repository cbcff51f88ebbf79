#!/usr/bin/env python
"""Refresh ORACLE_LAWS.json — the committed oracle-law fingerprint registry.

Run after ANY change to a query implementation or oracle SQL (the
tests/test_freshness.py sync test fails the suite until you do). For each
registered key, records the current law sha and the round at which that sha
last changed; keys whose sha differs from the committed record are bumped to
the current round, which forces them to the front of the driver ordering
(freshness.order_keys) so the external harness re-verifies them this round.

Usage: python scripts/update_oracle_laws.py [--check] [--round N] [--migrate]
  --check    exit 1 if the file is out of sync, without writing.
  --round N  record changed keys at round N instead of the inferred current
             round (bootstrap only: the initial file was written with
             --round 3 because the registry at that commit was byte-identical
             to the code the round-3 driver snapshot evaluated).
  --migrate  fingerprint-ALGORITHM migration: rewrite every key's sha under
             the current law_sha implementation but KEEP its recorded round.
             Only valid in a commit that changes no query implementation or
             oracle (verify with scripts/check_oracles.py before/after) —
             the laws are unchanged, only how they are hashed. Used r05 for
             the per-module -> per-function-closure granularity change.
Any other argument (including --help) prints this usage and exits 2
without writing.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tesserocr_spark.queries import freshness  # noqa: E402


class _StrictParser(argparse.ArgumentParser):
    """Exits 2 with the module usage on any unrecognised argument (there is
    no --help option), so a typo can never fall through to the rewrite."""

    def error(self, message: str):
        self.exit(2, f"{__doc__}\nerror: {message}\n")


def parse_args(argv: list[str]) -> argparse.Namespace:
    parser = _StrictParser(prog="update_oracle_laws.py", add_help=False,
                           allow_abbrev=False)
    parser.add_argument("--check", action="store_true")
    parser.add_argument("--round", type=int)
    parser.add_argument("--migrate", action="store_true")
    return parser.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    check_only = args.check
    root = freshness.repo_root()
    path = root / "ORACLE_LAWS.json"
    laws = freshness.load_laws(root)
    shas = freshness.current_shas()
    now = freshness.current_round(root) if args.round is None else args.round

    migrate = args.migrate
    changed, out = [], {}
    for key in sorted(shas):
        rec = laws.get(key)
        if rec and rec.get("sha") == shas[key]:
            out[key] = rec
        elif migrate and rec:
            out[key] = {"sha": shas[key], "round": rec["round"]}
            changed.append(key)
        else:
            out[key] = {"sha": shas[key], "round": now}
            changed.append(key)
    stale = sorted(set(laws) - set(shas))

    if check_only:
        if changed or stale:
            print(f"OUT OF SYNC: changed/new={changed} removed={stale}")
            return 1
        print("in sync")
        return 0

    path.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    greens = freshness.correctness_rounds(root)
    invalid = [
        k for k in out
        if freshness.evidence_round(k, shas[k], out, greens, now) == -1
    ]
    print(f"wrote {path.name}: {len(out)} keys, round={now}, "
          f"bumped={changed if migrate else changed or 'none'}"
          f"{' (migrated, rounds kept)' if migrate else ''}, "
          f"dropped={stale or 'none'}")
    print(f"headroom: {len(invalid)}/{freshness.DRIVER_CAP} invalid-evidence "
          f"keys (soft margin at {freshness.DRIVER_CAP - freshness.SOFT_MARGIN})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
