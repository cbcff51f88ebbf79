"""Guarantees for the evidence-freshness driver ordering (ADVICE r03 high).

These tests make the driver-cap rotation a *checked* mechanism:
  * ORACLE_LAWS.json can never go silently stale — any law change without
    running scripts/update_oracle_laws.py fails the suite;
  * every key whose law changed this round (or whose prior evidence
    predates its law) sits inside the evaluated DRIVER_CAP prefix;
  * a simulation proves every key re-enters the prefix within 2 rounds.
"""

from __future__ import annotations

import pytest

from tesserocr_spark.queries import ORACLES, QUERIES, freshness


def test_laws_file_in_sync_with_registry():
    laws = freshness.load_laws()
    shas = freshness.current_shas()
    assert set(laws) == set(shas), (
        "ORACLE_LAWS.json key set differs from the registry — run "
        "scripts/update_oracle_laws.py"
    )
    stale = sorted(k for k in shas if laws[k]["sha"] != shas[k])
    assert not stale, (
        f"law fingerprints changed for {stale} — run "
        "scripts/update_oracle_laws.py so the driver ordering re-verifies them"
    )


def test_every_invalid_evidence_key_inside_driver_prefix():
    shas = freshness.current_shas()
    laws = freshness.load_laws()
    greens = freshness.correctness_rounds()
    now = freshness.current_round()
    order = freshness.order_keys(QUERIES, shas, laws, greens, now)
    invalid = [
        k for k in order
        if freshness.evidence_round(k, shas[k], laws, greens, now) == -1
    ]
    assert len(invalid) <= freshness.DRIVER_CAP, (
        "more evidence-less keys than the driver snapshot can hold — "
        "stage law changes across rounds"
    )
    # ADVICE r04: at exactly CAP the guarantee is one edit from
    # unsatisfiable — enforce a staging margin so overflow is caught while
    # there is still room to split a change across rounds.
    assert len(invalid) <= freshness.DRIVER_CAP - freshness.SOFT_MARGIN, (
        f"{len(invalid)} invalid-evidence keys — within the cap of "
        f"{freshness.DRIVER_CAP} but past the soft margin; stage the "
        "remaining law changes into the next round"
    )
    prefix = set(order[: freshness.DRIVER_CAP])
    missing = [k for k in invalid if k not in prefix]
    assert not missing, f"keys without valid driver evidence excluded: {missing}"
    # keys bumped THIS round (law change) are a subset of the invalid set
    for k, rec in laws.items():
        if rec["round"] >= now:
            assert k in prefix, f"law of {k} changed in round {now} but key excluded"


def test_entry_module_uses_freshness_order():
    import __spark_entry__ as entry

    assert list(entry.queries().keys()) == freshness.order_keys(QUERIES)
    assert list(entry.oracle_sql().keys()) == freshness.order_keys(ORACLES)


def _load_update_script():
    import importlib.util
    from pathlib import Path

    path = Path(__file__).resolve().parents[1] / "scripts" / "update_oracle_laws.py"
    spec = importlib.util.spec_from_file_location("update_oracle_laws", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("argv", [
    ["--help"], ["-h"], ["--chek"], ["--check", "--bogus"], ["--round"],
    ["--round", "x"], ["--round", "3", "extra"], ["--mig"],
])
def test_update_script_rejects_unknown_arguments_without_writing(argv, monkeypatch, capsys):
    """Anything but --check / --round N / --migrate exits 2 with the usage
    and never rewrites ORACLE_LAWS.json."""
    from pathlib import Path

    def no_write(*_a, **_k):
        raise AssertionError("ORACLE_LAWS.json written on a rejected argument")

    monkeypatch.setattr(Path, "write_text", no_write)
    script = _load_update_script()
    with pytest.raises(SystemExit) as exc:
        script.main(argv)
    assert exc.value.code == 2
    assert "Usage: python scripts/update_oracle_laws.py" in capsys.readouterr().err


def test_update_script_parses_its_options():
    parse = _load_update_script().parse_args
    args = parse(["--check", "--round", "7", "--migrate"])
    assert (args.check, args.round, args.migrate) == (True, 7, True)
    args = parse([])
    assert (args.check, args.round, args.migrate) == (False, None, False)


def test_ordering_deterministic():
    assert freshness.order_keys(QUERIES) == freshness.order_keys(QUERIES)


def test_rotation_covers_every_key_within_two_rounds():
    """Simulate driver rounds: the first DRIVER_CAP keys of each round's
    ordering receive a green row; every key must be evaluated at least once
    in every window of 2 consecutive rounds (68 keys / cap 50)."""
    keys = sorted(QUERIES)
    shas = {k: "s" for k in keys}
    laws = {k: {"sha": "s", "round": 0} for k in keys}
    greens: dict[str, int] = {}
    seen_round: dict[str, int] = {}
    for rnd in range(1, 9):
        order = freshness.order_keys(keys, shas, laws, greens, now=rnd)
        prefix = order[: freshness.DRIVER_CAP]
        for k in prefix:
            greens[k] = rnd
            seen_round[k] = rnd
        if rnd >= 2:
            overdue = [k for k in keys if seen_round.get(k, -10) < rnd - 1]
            assert not overdue, f"round {rnd}: not evaluated within 2 rounds: {overdue}"


_GRANULARITY_MOD = '''
SHARED = "law-fragment"
A_CONST = {a_const!r}
_DOCS_CACHE = {{"runtime": "state"}}

def helper_a():
    return SHARED + A_CONST

def query_a():
    return helper_a()

def query_b():
    return SHARED + "b"
'''


def _load_mod(tmp_path, name, a_const):
    """Write + import a real module file so inspect.getsource works."""
    import importlib.util

    tmp_path.mkdir(parents=True, exist_ok=True)
    p = tmp_path / f"{name}.py"
    p.write_text(_GRANULARITY_MOD.format(a_const=a_const))
    spec = importlib.util.spec_from_file_location(name, p)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    # make the functions look like queries-package members for the walker
    for fn in (mod.helper_a, mod.query_a, mod.query_b):
        fn.__module__ = "tesserocr_spark.queries._granularity_test"
    return mod


def test_fingerprint_is_per_function_closure(tmp_path):
    """VERDICT r04 task #2: editing one function's law constant must bump
    only the keys whose reference closure reaches it — not every key the
    module defines (the old per-module scheme burned all headroom)."""
    m1 = _load_mod(tmp_path / "v1", "granmod", "one")
    m2 = _load_mod(tmp_path / "v2", "granmod", "two")
    a1 = freshness.law_sha("a", "SELECT 1", m1.query_a)
    b1 = freshness.law_sha("b", "SELECT 2", m1.query_b)
    a2 = freshness.law_sha("a", "SELECT 1", m2.query_a)
    b2 = freshness.law_sha("b", "SELECT 2", m2.query_b)
    assert a1 != a2, "A_CONST is in query_a's closure (via helper_a)"
    assert b1 == b2, "query_b does not reference A_CONST — sha must not move"


def test_fingerprint_captures_shared_constants_and_helpers():
    """The real registry: dedup_exact's closure must include the shared
    HASH-law constant and its helper chain; runtime caches must not leak in."""
    from tesserocr_spark.queries import QUERIES

    parts = "\n".join(freshness._law_parts(QUERIES["dedup_minhash_lsh"]))
    # the md5->int64 hash law reaches the closure by VALUE: it is embedded
    # in the precomputed expression constants at import time
    assert "_H31_EXPR=" in parts and "md5" in parts
    assert "_MINHASH_ARRAY_EXPR=" in parts
    assert "def _shingle_array" in parts  # helper chain
    assert "_DOCS_CACHE=" not in parts
    assert "_PERSISTED=" not in parts


def test_fingerprint_insensitive_to_unrelated_module_text():
    """Two keys in the same module with disjoint closures share no spurious
    coupling: textops' stopword law must not appear in a dedup key's parts."""
    from tesserocr_spark.queries import QUERIES

    parts = "\n".join(freshness._law_parts(QUERIES["dedup_exact"]))
    assert "STOPWORDS=" not in parts


def test_engine_code_is_in_extraction_key_fingerprints():
    """ADVICE r05 low #1: a regression in shared engine code (core/,
    pages.py, udf.py) must invalidate the driver evidence of the keys that
    execute it. The extraction family reaches the engine through
    registry.docs_for's lazy in-function imports — invisible to a globals
    walk, so the source-text import scan must pick them up."""
    parts = "\n".join(freshness._law_parts(QUERIES["utf8_text"]))
    assert "EXTMOD:tesserocr_spark.api=" in parts
    assert "EXTMOD:tesserocr_spark.pages=" in parts
    # the api module's closure transitively covers the whole core
    closure = set(freshness._module_closure("tesserocr_spark.api"))
    for mod in (
        "tesserocr_spark.core.extractor",
        "tesserocr_spark.core.segment",
        "tesserocr_spark.core.tokenizer",
        "tesserocr_spark.core.fold",
        "tesserocr_spark.core.osd",
        "tesserocr_spark.udf",
    ):
        assert mod in closure, mod


def test_engine_sha_moves_extraction_keys_only(monkeypatch):
    """Simulated core edit: perturbing the module-closure sha must change
    the law of a key that executes engine code and leave a pure-SQL
    relational key untouched."""
    base_ex = freshness.law_sha("utf8_text", "SELECT 1", QUERIES["utf8_text"])
    base_rel = freshness.law_sha(
        "bbox_envelope", "SELECT 2", QUERIES["bbox_envelope"]
    )
    monkeypatch.setattr(
        freshness, "_module_closure_sha", lambda name: "simulated-core-edit"
    )
    assert freshness.law_sha(
        "utf8_text", "SELECT 1", QUERIES["utf8_text"]
    ) != base_ex
    assert freshness.law_sha(
        "bbox_envelope", "SELECT 2", QUERIES["bbox_envelope"]
    ) == base_rel


def test_engine_blast_radius_stays_under_cap():
    """A core/ edit invalidates exactly the keys whose closure reaches the
    engine; that set must stay comfortably under the soft margin or core
    maintenance becomes impossible under the overflow test."""
    hit = [
        k for k, fn in QUERIES.items()
        if any(p.startswith("EXTMOD:") for p in freshness._law_parts(fn))
    ]
    assert 0 < len(hit) <= freshness.DRIVER_CAP - freshness.SOFT_MARGIN, hit


def test_law_change_mid_simulation_forces_reverification():
    keys = [f"k{i:02d}" for i in range(60)]
    shas = {k: "s" for k in keys}
    laws = {k: {"sha": "s", "round": 0} for k in keys}
    greens = {k: 5 for k in keys}  # everyone freshly verified
    # law of k59 changes in round 6 (recorded by the update script)
    shas["k59"] = "s2"
    laws["k59"] = {"sha": "s2", "round": 6}
    order = freshness.order_keys(keys, shas, laws, greens, now=6)
    assert order[0] == "k59"
