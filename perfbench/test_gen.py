"""Self-test of the benchmark's input generators (no Spark needed):

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import collections
import datetime as dt
import json

import gen

SPEC = gen.ChessSpec(seed=7, players=("alice", "bob", "carol"), start=dt.date(2024, 1, 1),
                     months=4, games_per_day=12)


def _served(spec: gen.ChessSpec, as_of: dt.date) -> gen.ChessArchives:
    a = gen.ChessArchives(spec)
    a.prepare(as_of)
    return a


def test_same_seed_same_bytes():
    one, two = _served(SPEC, SPEC.end_day()), _served(SPEC, SPEC.end_day())
    assert one.bodies == two.bodies
    other = _served(gen.ChessSpec(**{**SPEC.__dict__, "seed": 8}), SPEC.end_day())
    assert other.bodies.keys() == one.bodies.keys()
    assert other.bodies != one.bodies


def test_body_is_a_function_of_url_and_day():
    """A closed month never changes; an open month only grows."""
    early, late = _served(SPEC, dt.date(2024, 2, 10)), _served(SPEC, dt.date(2024, 2, 20))
    jan = gen.archive_url("bob", 2024, 1)
    assert early.bodies[jan] == late.bodies[jan]
    feb = gen.archive_url("bob", 2024, 2)
    few, more = (json.loads(a.bodies[feb])["games"] for a in (early, late))
    assert more[: len(few)] == few and len(more) > len(few)


def test_every_edge_row_is_present():
    a = _served(SPEC, SPEC.end_day())
    games = []
    urls_per_archive = {}
    for url, body in a.bodies.items():
        payload = json.loads(body)
        if "games" in payload:
            games += payload["games"]
            urls_per_archive[url] = [g["url"] for g in payload["games"]]
    pgns = [g.get("pgn") for g in games]
    with_pgn = [p for p in pgns if p]
    assert any('[Result "' not in p and p.rstrip().endswith(("1-0", "0-1", "1/2-1/2")) for p in with_pgn)
    assert any('[Result "' not in p and not p.rstrip().endswith(("1-0", "0-1", "1/2-1/2"))
               for p in with_pgn)
    assert any('[ECO "' not in p for p in with_pgn)
    assert "" in pgns
    assert any("pgn" not in g for g in games)
    assert any(g["end_time"] is None for g in games)
    assert any(len(u) != len(set(u)) for u in urls_per_archive.values())  # within an archive
    owners = collections.defaultdict(set)
    for url, game_urls in urls_per_archive.items():
        for g in game_urls:
            owners[g].add(url)
    across = [o for o in owners.values() if len(o) > 1]
    assert any(len({u.split("/")[5] for u in o}) == 1 for o in across)  # one player, two months
    assert any(len({u.split("/")[5] for u in o}) == 2 for o in across)  # two tracked players
    assert any(not u for u in urls_per_archive.values())  # an empty archive
    listed = [u for p in SPEC.players for u in json.loads(a.bodies[gen.list_url(p)])["archives"]]
    missing = [u for u in listed if u not in a.bodies]
    assert missing == [SPEC.missing_url(SPEC.end_day())]
    assert a(missing[0]) == (404, "")


def test_expected_rows_follow_first_seen_archive():
    a = _served(SPEC, SPEC.end_day())
    for url, body in a.bodies.items():
        for g in json.loads(body).get("games", []):
            assert a.expect[g["url"]]["archive_url"] <= url


def test_corpus_same_seed_and_shares():
    spec = gen.CorpusSpec(seed=3, batches=3, docs_per_batch=300)
    batches = gen.corpus_batches(spec)
    assert batches == gen.corpus_batches(spec)
    assert batches != gen.corpus_batches(gen.CorpusSpec(seed=4, batches=3, docs_per_batch=300))
    kinds = collections.Counter(row[4] for rows in batches for row in rows)
    n = sum(kinds.values())
    assert n == 900 and len({row[0] for rows in batches for row in rows}) == n
    for kind, share in (("exact_dup", 0.10), ("near_dup", 0.10), ("quality_fail", 0.10)):
        assert abs(kinds[kind] / n - share) < 0.04, (kind, kinds)


def test_slicer_session_is_seeded():
    one, two = gen.slicer_session(5, SPEC), gen.slicer_session(5, SPEC)
    assert one == two and one[0] == {}
    assert [sorted(s) for s in one] == [sorted(s) for s in gen.slicer_session(6, SPEC)]
    assert one != gen.slicer_session(6, SPEC)
