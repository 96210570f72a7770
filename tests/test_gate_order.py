"""The round's differential gate checks the first 50 entries of
`queries()`. Their order comes from the gate's own artifacts at the repo
root, `CORRECTNESS_r<N>.json`: entries the gate has never passed first,
then the least recently passed."""

import glob
import hashlib
import json
import os

import __spark_entry__ as entrymod

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATE_ROWS = 50

# sha256 of the sorted entry names and of the sorted oracle SQL items.
# Reordering, or moving a query between modules, leaves both unchanged;
# a deliberate change to the query surface or to an oracle updates them.
NAMES_SHA = "a86be31f1aeaf89e2cc9d5b24fd0404b892aad49378130210f1a76a74aef360c"
ORACLES_SHA = "c237a702a29b820bc301fecff67668b554abe63bde55d6c5035da3871c4274e8"


def _last_green() -> dict[str, int]:
    last: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r[0-9]*.json"))):
        n = int(os.path.basename(path).removeprefix("CORRECTNESS_r").removesuffix(".json"))
        with open(path) as f:
            for name, row in json.load(f).items():
                if row["hash_match"] is True:
                    last[name] = n
    return last


def test_gate_checks_every_never_green_entry(monkeypatch, tmp_path):
    last = _last_green()
    names = list(entrymod.queries())
    never = [k for k in names if k not in last]
    assert never
    assert set(never) <= set(names[:GATE_ROWS])

    # With no artifact present the order is the dict's own; with them,
    # a stable sort of it by last green round (0 = never).
    monkeypatch.setattr(entrymod, "_ROOT", str(tmp_path))
    plain = list(entrymod.queries())
    assert plain != names
    assert names == sorted(plain, key=lambda k: last.get(k, 0))


def test_query_names_and_oracles_are_pinned(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ORACLE_SF", raising=False)
    names = "\n".join(sorted(entrymod.queries()))
    oracles = json.dumps(sorted(entrymod.oracle_sql().items()))
    assert len(entrymod.queries()) == 201
    assert hashlib.sha256(names.encode()).hexdigest() == NAMES_SHA
    assert hashlib.sha256(oracles.encode()).hexdigest() == ORACLES_SHA
