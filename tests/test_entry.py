"""Driver-contract invariants of __spark_entry__ (ADVICE r6): registry and
oracle keys agree, the gate order is the rule applied to the committed
CORRECTNESS_r*.json artifacts, and — the deferral guard — every query
changed in the current round sits inside the 50-entry gate window,
so a change can never ship with only local coverage again."""

import json
import re
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entry  # noqa: E402
from flockdb_spark import queries as _q  # noqa: E402


def _round(path):
    return int(re.search(r"_r(\d+)\.json$", path.name)[1])


def _last_gate(paths):
    """name -> (round, green) of its newest gate record."""
    last = {}
    for p in sorted(paths, key=_round):
        for name, r in json.loads(p.read_text()).items():
            ok = r["rows_match"] and r["schema_match"] and r["hash_match"] and r["err"] is None
            last[name] = (_round(p), ok)
    return last


def _expected_order(names, paths, changed):
    """The gate rule, stated as one sort key: never-gated/red entries
    (registry order), then the changed list (its order), then last-green
    round oldest first (registry order within a round)."""
    last = _last_gate(paths)

    def key(i_name):
        i, n = i_name
        rnd, green = last.get(n, (0, False))
        if not green:
            return (0, 0, i)
        if n in changed:
            return (1, changed.index(n), i)
        return (2, rnd, i)

    return [n for _, n in sorted(enumerate(names), key=key)]


def test_registry_and_oracles_align():
    qs = list(entry.queries())
    os_ = list(entry.oracle_sql())
    # every oracle belongs to a registered query (queries without an oracle
    # get the driver's weaker rows-only check, which is allowed)
    assert set(os_) <= set(qs)
    # the gate ordering is a permutation of the registry
    assert sorted(qs) == sorted(_q.QUERIES) and len(qs) >= 136
    # and the oracles follow the same order
    assert os_ == [n for n in qs if n in _q.ORACLES]


def test_changed_queries_sit_inside_gate_window():
    qs = list(entry.queries())
    window = set(qs[: entry.GATE_WINDOW])
    assert len(entry._CHANGED_IN_ROUND) <= entry.GATE_WINDOW
    missing = [n for n in entry._CHANGED_IN_ROUND if n not in window]
    assert not missing, (
        f"changed-in-round queries outside the driver's {entry.GATE_WINDOW}-"
        f"entry gate window: {missing}"
    )


def test_gate_order_is_the_rule_over_committed_artifacts():
    """The whole order — window included — is computed from the committed
    artifacts, nothing hand-ordered: with no red or ungated entry the window
    is the changed list followed by the stalest green entries."""
    paths = sorted(ROOT.glob("CORRECTNESS_r*.json"))
    assert paths
    names = list(_q.QUERIES)
    expected = _expected_order(names, paths, entry._CHANGED_IN_ROUND)
    assert list(entry.queries()) == expected
    assert list(entry.oracle_sql()) == [n for n in expected if n in _q.ORACLES]
    last = _last_gate(paths)
    if all(last.get(n, (0, False))[1] for n in names):
        changed = entry._CHANGED_IN_ROUND
        window = expected[: entry.GATE_WINDOW]
        assert window[: len(changed)] == changed
        stale = max(last[n][0] for n in window[len(changed):])
        assert all(last[n][0] >= stale for n in expected[entry.GATE_WINDOW:] if n not in changed)


def test_new_artifact_rotates_the_window(tmp_path):
    """Against r01–r12 the order is the changed list, then the r8-green
    block, then newer rounds.  A fake r13 that gates one r8-green entry
    green moves it behind every r12-green entry; one that gates an
    r12-green entry red moves it to the front — no edit to
    __spark_entry__."""
    for p in ROOT.glob("CORRECTNESS_r*.json"):
        if _round(p) <= 12:
            shutil.copy(p, tmp_path / p.name)
    names = list(_q.QUERIES)
    changed = ["q10_intersection", "x15_ivf_ann"]
    base = entry.gate_order(names, sorted(tmp_path.iterdir()), changed)
    last = _last_gate(tmp_path.iterdir())
    assert base[:2] == changed
    rounds = [last[n][0] for n in base[2:]]
    assert rounds == sorted(rounds) and rounds[0] == 8
    assert base == _expected_order(names, list(tmp_path.iterdir()), changed)

    promoted = base[2]  # the stalest green entry, r8
    red = next(n for n in names if last[n] == (12, True) and n not in changed)
    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    (tmp_path / "CORRECTNESS_r13.json").write_text(
        json.dumps({promoted: ok, red: {**ok, "hash_match": False}})
    )
    order = entry.gate_order(names, sorted(tmp_path.iterdir()), changed)
    assert order[0] == red
    assert order[1:3] == changed
    r12_green = [n for n in names if last[n] == (12, True) and n not in (red, *changed)]
    assert order.index(promoted) > max(order.index(n) for n in r12_green)
    assert order == _expected_order(names, list(tmp_path.iterdir()), changed)
