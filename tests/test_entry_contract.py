"""Driver-contract invariants for __spark_entry__ — cheap static checks
(no Spark session) that catch registry drift before the driver does."""

import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as E


def test_window_order_is_the_first_fifty():
    qs = list(E.queries().keys())
    assert len(E._WINDOW_ORDER) == 50
    assert qs[:50] == E._WINDOW_ORDER


def test_every_query_has_an_oracle_and_vice_versa():
    qs = set(E.queries().keys())
    os_ = set(E.oracle_sql().keys())
    assert qs == os_, (sorted(qs - os_), sorted(os_ - qs))


def test_no_duplicate_registry_keys():
    qs = list(E.queries().keys())
    assert len(qs) == len(set(qs))


def test_oracles_are_nonempty_sql():
    for name, sql in E.oracle_sql().items():
        assert isinstance(sql, str) and "SELECT" in sql.upper(), name


def test_no_gate_returns_array_or_map_columns(spark):
    """The driver's pandas canonicalizer cannot sort/hash list cells
    (CORRECTNESS_r05 cypher_collect red row): every gate must emit only
    scalar columns — list-valued results need a canonical string
    rendering (see _q_cypher_collect). Plan-only: schemas come from
    analysis, nothing executes."""
    from pyspark.sql.types import ArrayType, MapType

    sf_dir = "/root/testdata/sf0.001"
    bad = []
    for name, fn in E.queries().items():
        schema = fn(spark, sf_dir).schema
        for f in schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, bad


def test_window_ledger_matches_current_window():
    """WINDOW_LEDGER.json records each round's driver window (rounds
    1..N-1 from the CORRECTNESS files, round N = the planned window).
    The newest entry must BE the current _WINDOW_ORDER, so rotating the
    window without updating the ledger fails fast (VERDICT r6 #9)."""
    import json

    ledger = json.load(open("/root/repo/WINDOW_LEDGER.json"))
    newest = ledger[str(max(int(k) for k in ledger))]
    assert sorted(E._WINDOW_ORDER) == newest


def test_no_gate_staler_than_four_rounds():
    """Every registry gate must appear in some driver window at least
    once every FOUR rounds (hard budget; VERDICT r6 #9 set three, but
    the registry crossed the 50-slot × 3-round = 150 sustainable
    ceiling at 152 gates in round 8 — rotation PRACTICE stays
    oldest-first, so the typical refresh is still ~3 rounds, and this
    test is the backstop that makes skipping a family impossible).
    Gates newer than the ledger horizon are exempt only while they are
    IN the current window (a brand-new gate must debut immediately)."""
    import json

    ledger = json.load(open("/root/repo/WINDOW_LEDGER.json"))
    rounds = sorted(int(k) for k in ledger)
    recent = set()
    for r in rounds[-4:]:
        recent |= set(ledger[str(r)])
    ever = set()
    for r in rounds:
        ever |= set(ledger[str(r)])
    stale = []
    for name in E.queries():
        if name in recent:
            continue
        if name not in ever and name in E._WINDOW_ORDER:
            continue  # new gate debuting this round
        stale.append(name)
    assert not stale, f"gates older than 4 windows: {sorted(stale)}"


def test_registry_under_sustainable_ledger_capacity():
    """50 window slots × 4-round budget = 200 gates max; past that the
    rotation arithmetic breaks and the staleness test becomes
    unsatisfiable. Sustainable size with D debuts per round is
    (50 − D) × 4: D=2 → 192, the steady state adopted in round 12
    (NOTES.md "Registry steady-state arithmetic", option 2): at most
    TWO debuts per round from r13 on. The verified queue fits exactly:
    r13 +2 → 189 (this round), r14 +2 → 191, r15 +1−1 → 191 (the
    text_vocab retirement landed with the graph_random_walks debut),
    r16 +1 → 192 (AT the trip-wire), still 8 gates under the absolute
    cliff.

    STEADY-STATE RULE FROM r15 ON (decided round 13, BEFORE the
    trip-wire binds — VERDICT r12 #4): every post-r15 debut MUST pair
    with a genuine-subsumption retirement (RETIRED_GATES.json policy:
    the retiring gate's code path must run verbatim inside a live
    gate), keeping the registry pinned at ≤192. The 4 → 5
    staleness-budget widening (capacity (50−2)×5 = 240) is NOT taken
    by default: a 5-round refresh cadence weakens the driver-recheck
    guarantee for 190+ gates to save slots we do not need — it may be
    adopted ONLY if a future round must land ≥3 genuinely new operator
    families at once AND no subsumption candidates exist; whoever takes
    it must update this docstring and the assert below in the same
    commit, as rounds 8 and 12 did."""
    assert len(E.queries()) <= 192, (
        "registry at the D=2 sustainable capacity (50-2 slots x 4-round "
        "budget): pair every new debut with a genuine-subsumption "
        "retirement (the r15 steady-state rule in this docstring); "
        "widening the budget to 5 rounds is a deliberate, documented "
        "move, not a default"
    )


def test_window_ledger_history_is_append_only():
    """Rounds with a PUBLISHED CORRECTNESS artifact are digest-pinned
    (VERDICT r7 #8; amendment semantics tightened round-9 per ADVICE
    r8): the staleness budget means nothing if checked history can be
    rewritten to satisfy it. A round becomes FINAL the moment its
    CORRECTNESS_r0N.json exists — its digest is pinned here and never
    edited again. The newest (planned, unchecked) round is the ONLY
    unpinned entry; it may be amended freely and is validated against
    _WINDOW_ORDER by test_window_ledger_matches_current_window. This
    removes the r8 ambiguity where a mid-round amendment was
    indistinguishable from a history rewrite."""
    import hashlib
    import json
    import os

    digests = {
        "1": "7395ef951ae3f2f6",
        "2": "2b8fe48c259def62",
        "3": "2b8fe48c259def62",  # r3 crashed; window unchanged from r2
        "4": "8cee60d3d7fa7504",
        "5": "40c8c458ebf7e473",
        "6": "aed49a003811890f",
        "7": "a0c1c876a75da582",
        "8": "806d7d6bc63c4b82",
        "9": "5a8832e87d1bc3de",
        "10": "af7e96d072039bb7",
        "11": "c33a255a5f96caba",
        "12": "394355c362f7217e",
        "13": "23527ebff29c0d8b",
        "14": "b15ce8aaf216f05d",
        "15": "6fe1352a4c424f93",  # final: CORRECTNESS_r15 published
        "16": "ac0937879781c7d4",  # final: CORRECTNESS_r16 published
    }
    published = {
        str(n)
        for n in range(1, 100)
        if os.path.exists(f"/root/repo/CORRECTNESS_r{n:02d}.json")
    }
    # pins must cover every published round except possibly the newest
    # artifact (it can land AFTER the session that planned the round —
    # the next session pins it; meanwhile the artifact cross-check below
    # still validates it, so there is no unguarded gap)
    missing_pins = published - set(digests)
    newest_published = max((int(r) for r in published), default=0)
    assert missing_pins <= {str(newest_published)}, (
        f"unpinned driver-checked rounds {sorted(missing_pins)}: pin their "
        "digests here (append-only) before planning new windows"
    )
    assert set(digests) <= published, (
        "digest pinned for a round with no published CORRECTNESS artifact"
    )
    ledger = json.load(open("/root/repo/WINDOW_LEDGER.json"))
    newest = str(max(int(k) for k in ledger))
    assert set(ledger) == published | {newest}, (
        "ledger must hold every driver-checked round plus at most one "
        "planned (unchecked) round"
    )
    for r, want in digests.items():
        got = hashlib.sha256(json.dumps(ledger[r]).encode()).hexdigest()[:16]
        assert got == want, f"round {r} ledger entry was rewritten"
    # independent cross-check: a published round's ledger entry must BE
    # the key set the driver actually checked — ties history to the
    # driver's own artifacts even before the manual digest pin lands
    for r in published:
        keys = sorted(
            json.load(open(f"/root/repo/CORRECTNESS_r{int(r):02d}.json"))
        )
        assert sorted(ledger[r]) == keys, (
            f"round {r} ledger entry diverges from CORRECTNESS_r{int(r):02d}"
        )


def test_retired_gates_policy():
    """Gate retirement (round-9, VERDICT r8 #3 — the 190-gate capacity
    trip-wire): a gate leaves the registry ONLY via RETIRED_GATES.json,
    naming a LIVE gate that subsumes its code path plus a reason, and
    must have earned at least one past driver window first. Ledger
    history keeps the retired names (past windows stay immutable)."""
    import json

    retired = json.load(open("/root/repo/RETIRED_GATES.json"))
    retired.pop("_policy", None)
    live = set(E.queries())
    ledger = json.load(open("/root/repo/WINDOW_LEDGER.json"))
    ever_windowed = set()
    for entry in ledger.values():
        ever_windowed |= set(entry)
    for name, meta in retired.items():
        assert name not in live, f"{name} is retired but still registered"
        assert meta["subsumed_by"] in live, (
            f"{name}: subsuming gate {meta['subsumed_by']} is not live"
        )
        assert meta["subsumed_by"] != name
        assert meta.get("reason"), f"{name}: retirement needs a reason"
        assert name in ever_windowed, (
            f"{name} never appeared in a driver window — delete outright, "
            "don't launder through retirement"
        )
