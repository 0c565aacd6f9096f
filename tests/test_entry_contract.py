"""The driver contract surface (`__spark_entry__.py`): exposure order,
registry completeness, and the bounded correctness window.

The harness records a bounded window from the FRONT of ``queries()``
(round 2 measured it at 50 entries), so the exposure order is part of
the contract.  Since round 4 the order derives from the committed
CORRECTNESS_r*.json files plus the content-hash snapshot
(QUERY_CONTENT_HASHES.json): crashed rows first, then never-recorded
queries, then recorded-but-content-changed (invalidated) ones, then the
validly recorded tail stalest-first — so every query's official row is
both fresh and still describes the code it certifies.
"""

from __future__ import annotations

import __spark_entry__ as entry_mod
from etl_template_spark.queries import REGISTRY


def test_exposure_covers_registry_exactly():
    qs = entry_mod.queries()
    assert set(qs) == set(REGISTRY)
    assert len(qs) == len(REGISTRY)


def test_exposure_promotes_unrecorded_queries():
    """Exposure-order invariants that hold in EVERY round: crashed
    official rows lead (they need a recordable re-run), then queries
    with no official row yet (oracle-backed before rows-only — window
    slots are scarce and the hash check is the strong one), then
    recorded-but-content-changed (invalidated) queries, then the
    validly recorded tail, stalest recording first."""
    from etl_template_spark import verification

    recorded_ok = entry_mod._recorded_names()
    errored = entry_mod._attempted_names() - recorded_ok
    invalid = verification.invalidated_names()

    def bucket(name: str) -> int:
        if name in errored:
            return 0
        if name not in recorded_ok:
            return 1 if REGISTRY[name].oracle is not None else 2
        return 3 if name in invalid else 4

    order = list(entry_mod.queries())
    buckets = [bucket(n) for n in order]
    assert buckets == sorted(buckets)
    # and the scarce front window is spent on queries that need a
    # (re-)recording, as long as enough of them exist
    n_needy = sum(1 for b in buckets if b < 4)
    for name in order[: min(50, n_needy)]:
        assert bucket(name) < 4, f"{name} is validly recorded but leads"
    # the valid tail rotates stalest-first so official re-confirmation
    # cycles through the whole surface round-over-round
    latest = verification.latest_recorded_round()
    tail_rounds = [latest[n] for n in order if bucket(n) == 4]
    assert tail_rounds == sorted(tail_rounds)


def test_content_change_invalidates_recorded_row(tmp_path):
    """ADVICE r3 (medium): a recorded name must stop counting as
    verified when its builder/oracle content changes.  Simulated with a
    fake repo root: one recorded query whose snapshot hash is stale."""
    import json

    from etl_template_spark import verification

    root = str(tmp_path)
    rows = {
        "q_filter": {"err": None},
        "q_project": {"err": None},
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rows))
    snap = {
        "q_filter": {"round": 1, "hash": "0" * 64},  # stale
        "q_project": {
            "round": 1,
            "hash": verification.query_content_hash("q_project"),  # current
        },
    }
    (tmp_path / "QUERY_CONTENT_HASHES.json").write_text(json.dumps(snap))
    inv = verification.invalidated_names(root)
    assert "q_filter" in inv
    assert "q_project" not in inv
    # a recorded name with NO stamp at all is invalid too (fail-safe:
    # re-record rather than trust an uncertified pass)
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_distinct": {"err": None}})
    )
    assert "q_distinct" in verification.invalidated_names(root)


def test_refresh_snapshot_keeps_stale_stamp_until_rerecorded(tmp_path):
    """refresh_snapshot must NOT re-stamp a drifted hash unless the
    driver actually re-recorded the query in a newer round — otherwise
    an invalidated query would silently count as verified again."""
    import json

    from etl_template_spark import verification

    root = str(tmp_path)
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_filter": {"err": None}})
    )
    stale = {"q_filter": {"round": 1, "hash": "0" * 64}}
    (tmp_path / "QUERY_CONTENT_HASHES.json").write_text(json.dumps(stale))
    snap = verification.refresh_snapshot(root)
    assert snap["q_filter"]["hash"] == "0" * 64  # stamp unchanged
    assert "q_filter" in verification.invalidated_names(root)
    # a newer official recording re-stamps with current content
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_filter": {"err": None}})
    )
    snap = verification.refresh_snapshot(root)
    assert snap["q_filter"]["hash"] == verification.query_content_hash("q_filter")
    assert snap["q_filter"]["round"] == 2
    assert "q_filter" not in verification.invalidated_names(root)


def test_crashed_row_does_not_count_as_recorded(tmp_path):
    import json

    from etl_template_spark import verification

    root = str(tmp_path)
    rows = {
        "q_filter": {"err": "boom"},
        "q_project": {"err": "no_oracle"},
        "q_distinct": {"err": None},
        # ran to completion but the comparison FAILED — the r04
        # oracle-type bugs shipped exactly this row shape; it must not
        # count as a valid recording
        "q_union": {"err": None, "rows_match": True, "hash_match": False},
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(rows))
    latest = verification.latest_recorded_round(root)
    assert "q_filter" not in latest
    assert "q_union" not in latest
    assert latest == {"q_project": 1, "q_distinct": 1}
    assert verification.attempted_names(root) == {
        "q_filter", "q_project", "q_distinct", "q_union",
    }


def test_oracles_follow_exposure_order():
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    assert set(osql) <= set(qs)
    exposed = [n for n in qs if n in osql]
    assert exposed == list(osql)
    for name, sql in osql.items():
        assert isinstance(sql, str) and sql.strip()


def test_window_queries_are_oracle_backed():
    """Window slots are scarce: every registered query must carry the
    strong hash check, not a rows-only fallback (SURVEY.md's "rows-only
    set empty" claim)."""
    osql = entry_mod.oracle_sql()
    missing = sorted(set(REGISTRY) - set(osql))
    assert not missing, f"{missing} would burn window slots without an oracle"


def test_every_query_has_a_docstring():
    """Registry docs feed the judge's parity check; an f-string
    expression statement is NOT a docstring (__doc__ stays None) —
    r3 ADVICE caught two queries losing their docs that way."""
    for name, q in REGISTRY.items():
        assert (q.build.__doc__ or "").strip(), f"{name} has no __doc__"
        assert q.doc.strip(), f"{name} registered with empty doc"


def test_documented_query_counts_match_registry():
    """Stale-count tripwire: every doc that states the registry size
    (README, verify SKILL.md, SURVEY's round-status line) must agree
    with len(REGISTRY) — three review rounds caught this drifting after
    query additions; now it fails the build instead."""
    import os
    import re

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    n = len(REGISTRY)
    readme = open(os.path.join(repo, "README.md")).read()
    assert f"`queries()` ({n}), `oracle_sql()` ({n})" in readme
    assert f"## Operator coverage ({n} registered queries)" in readme
    skill = open(
        os.path.join(repo, ".claude", "skills", "verify", "SKILL.md")
    ).read()
    assert f"# {n} / {n} entries expected" in skill
    survey = open(os.path.join(repo, "SURVEY.md")).read()
    claims = re.findall(r"(\d+)/(\d+), rows-only set empty", survey)
    assert claims and all(a == b == str(n) for a, b in claims), claims
