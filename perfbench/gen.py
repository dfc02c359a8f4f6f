"""Seeded input generators for the pipeline benchmark.

Chess.com archives (FIXTURES.md sections 1-2): every archive body is a pure
function of (spec, URL, as-of day), so the same seed always serves the same
bytes. Each player's monthly archive holds that player's own games plus the
games shared with every other tracked player (a natural cross-archive
duplicate). Every generated day carries each edge row once per player:

- ``no_result_header``: no ``[Result]`` tag, the movetext token decides;
- ``no_result_anywhere``: no tag and no token, the seat fallback decides;
- ``no_eco``: no ``[ECO]`` tag;
- ``empty_pgn``: ``pgn`` is the empty string;
- ``no_pgn``: the ``pgn`` key is absent;
- ``null_end_time``: ``end_time`` is null;
- ``dup_in_archive``: the game is listed twice in its archive.

The first game of each month also re-lists the previous month's last game
(a cross-archive duplicate of one player), one month per player is served
empty, and one archive URL per day answers 404.

Corpus documents come from the same seed with stated exact-duplicate,
near-duplicate and quality-fail shares.
"""

from __future__ import annotations

import calendar
import datetime as dt
import json
import random
from dataclasses import dataclass

EDGE_KINDS = (
    "no_result_header",
    "no_result_anywhere",
    "no_eco",
    "empty_pgn",
    "no_pgn",
    "null_end_time",
    "dup_in_archive",
)
TIME_CONTROLS = ("60", "180", "300+2", "600", "900+10", "1800", "1/86400")
ECO_CODES = tuple(f"{c}{n:02d}" for c in "ABCDE" for n in (0, 20, 40))  # 15 codes
OPPONENTS = tuple(f"opp{i:02d}" for i in range(40))
WIN_REASONS = ("resigned", "checkmated", "timeout", "abandoned")
DRAW_REASONS = ("agreed", "repetition", "stalemate", "insufficient")
SAN = ("e4", "e5", "Nf3", "Nc6", "Bb5", "a6", "Ba4", "Nf6", "O-O", "Be7",
       "d4", "d5", "c4", "c6", "Nc3", "dxc4", "Qd2", "Rfe1", "h3", "Bxf6")
API = "https://api.chess.com/pub/player"
GAME_URL = "https://www.chess.com/game/live"


def _zipf_pick(rng: random.Random, items: tuple, s: float = 1.1):
    weights = [1.0 / (i + 1) ** s for i in range(len(items))]
    return rng.choices(items, weights)[0]


def archive_url(player: str, year: int, month: int) -> str:
    return f"{API}/{player}/games/{year}/{month:02d}"


def list_url(player: str) -> str:
    return f"{API}/{player}/games/archives"


def _month_add(year: int, month: int, k: int) -> tuple[int, int]:
    m = year * 12 + (month - 1) + k
    return m // 12, m % 12 + 1


@dataclass(frozen=True)
class ChessSpec:
    """History of `months` monthly archives per player from `start`."""

    seed: int
    players: tuple[str, ...]
    start: dt.date  # first day of the first archive month
    months: int
    games_per_day: int  # own games per player per day (shared games on top)
    shared_per_day: int = 1  # games per day between each pair of players

    def month_keys(self) -> list[tuple[int, int]]:
        return [_month_add(self.start.year, self.start.month, k) for k in range(self.months)]

    def empty_month(self, player: str) -> tuple[int, int]:
        """The one month per player whose archive is served empty."""
        k = 1 + self.players.index(player) % max(1, self.months - 2)
        return _month_add(self.start.year, self.start.month, k)

    def missing_url(self, day: dt.date) -> str:
        """The archive listed on `day` that answers 404."""
        player = self.players[day.toordinal() % len(self.players)]
        return f"{API}/{player}/games/{self.start.year - 1}/{day.month:02d}"

    def end_day(self) -> dt.date:
        y, m = _month_add(self.start.year, self.start.month, self.months)
        return dt.date(y, m, 1)


def _game(rng, gid, ts, white, black, tc, edge, day):
    """One archive game dict plus what the pipeline should derive from it."""
    r = rng.random()
    result = "1-0" if r < 0.47 else "0-1" if r < 0.92 else "1/2-1/2"
    if result == "1-0":
        wres, bres = "win", rng.choice(WIN_REASONS)
    elif result == "0-1":
        wres, bres = rng.choice(WIN_REASONS), "win"
    else:
        wres = bres = rng.choice(DRAW_REASONS)
    eco = _zipf_pick(rng, ECO_CODES)
    moves = " ".join(
        f"{i + 1}. {rng.choice(SAN)} {rng.choice(SAN)}" for i in range(rng.randint(12, 40))
    )
    tags = [
        '[Event "Live Chess"]', '[Site "Chess.com"]', f'[Date "{day:%Y.%m.%d}"]',
        f'[White "{white[0]}"]', f'[Black "{black[0]}"]',
    ]
    if edge not in ("no_result_header", "no_result_anywhere"):
        tags.append(f'[Result "{result}"]')
    if edge != "no_eco":
        tags.append(f'[ECO "{eco}"]')
    tags.append(f'[TimeControl "{tc}"]')
    tail = "" if edge == "no_result_anywhere" else f" {result}"
    pgn = "\n".join(tags) + "\n\n" + moves + tail
    game = {
        "url": f"{GAME_URL}/{gid}",
        "time_control": tc,
        "end_time": None if edge == "null_end_time" else ts,
        "white": {"username": white[0], "rating": white[1], "result": wres},
        "black": {"username": black[0], "rating": black[1], "result": bres},
    }
    if edge == "empty_pgn":
        pgn = ""
    if edge != "no_pgn":
        game["pgn"] = pgn
    fallback = edge in ("no_result_anywhere", "empty_pgn", "no_pgn")
    expect = {
        "result": f"{wres} / {bres}" if fallback else result,
        "eco": None if edge in ("no_eco", "empty_pgn", "no_pgn") else eco,
        "end_time": None if edge == "null_end_time" else ts,
    }
    return game, expect


def _rating(rng):
    return max(400, min(2900, int(rng.gauss(1500, 200))))


def _day_games(spec: ChessSpec, player: str, day: dt.date):
    """(game, expect) pairs a player played alone on `day`, in end_time order."""
    rng = random.Random(f"{spec.seed}|own|{player}|{day.isoformat()}")
    p = spec.players.index(player)
    n = spec.games_per_day + rng.randint(-2, 2)
    edges = dict(zip(rng.sample(range(n), len(EDGE_KINDS)), EDGE_KINDS))
    base = calendar.timegm(day.timetuple())
    stamps = sorted(rng.sample(range(60, 86340), n))
    out = []
    for i in range(n):
        gid = ((spec.seed % 1000 * 100000 + day.toordinal() - 730000) * 64 + p) * 1000 + i
        me = (player, _rating(rng))
        opp = (_zipf_pick(rng, OPPONENTS), _rating(rng))
        white, black = (me, opp) if rng.random() < 0.5 else (opp, me)
        tc = rng.choice(TIME_CONTROLS)
        out.append(_game(rng, gid, base + stamps[i], white, black, tc, edges.get(i), day)
                   + (edges.get(i),))
    return out


def _shared_games(spec: ChessSpec, a: str, b: str, day: dt.date):
    """Games between tracked players `a` < `b` on `day` (listed by both)."""
    rng = random.Random(f"{spec.seed}|pair|{a}|{b}|{day.isoformat()}")
    pa, pb = spec.players.index(a), spec.players.index(b)
    base = calendar.timegm(day.timetuple())
    out = []
    for i in range(spec.shared_per_day):
        gid = ((spec.seed % 1000 * 100000 + day.toordinal() - 730000) * 64 + 32 + pa * 5 + pb) * 1000 + i
        sides = [(a, _rating(rng)), (b, _rating(rng))]
        rng.shuffle(sides)
        out.append(_game(rng, gid, base + 86340 + i, sides[0], sides[1],
                         rng.choice(TIME_CONTROLS), None, day) + (None,))
    return out


def _archive_entries(spec: ChessSpec, player: str, year: int, month: int, as_of: dt.date):
    """Archive games of (player, month) for every day before `as_of`."""
    if (year, month) == spec.empty_month(player):
        return []
    first = dt.date(year, month, 1)
    last = min(dt.date(year, month, calendar.monthrange(year, month)[1]), as_of - dt.timedelta(days=1))
    entries = []
    day = first
    while day <= last:
        todays = list(_day_games(spec, player, day))
        for other in spec.players:
            if other != player:
                a, b = sorted((player, other))
                todays += _shared_games(spec, a, b, day)
        for game, expect, edge in todays:
            entries.append((game, expect))
            if edge == "dup_in_archive":
                entries.append((game, expect))
        day += dt.timedelta(days=1)
    # Re-list the previous month's last own game (cross-archive duplicate).
    if entries and (year, month) != spec.month_keys()[0]:
        game, expect, _ = _day_games(spec, player, first - dt.timedelta(days=1))[-1]
        entries.insert(0, (game, expect))
    return entries


class ChessArchives:
    """The Chess.com API as of one day, served as a `Transport`.

    `prepare(as_of)` builds every body outside any timed region; the
    transport call is then a dictionary lookup that counts what it serves.
    """

    def __init__(self, spec: ChessSpec):
        self.spec = spec
        self.bodies: dict[str, str] = {}
        self._closed: dict[str, str] = {}
        self.game_counts: dict[str, int] = {}
        self.expect: dict[str, dict] = {}
        self.bytes_served = 0
        self.archives_served: list[str] = []  # every 200 answer to an archive URL
        self.missing_served = 0  # 404 answers

    def months_visible(self, as_of: dt.date) -> list[tuple[int, int]]:
        last = as_of - dt.timedelta(days=1)
        return [ym for ym in self.spec.month_keys() if dt.date(ym[0], ym[1], 1) <= last]

    def prepare(self, as_of: dt.date) -> None:
        """Bodies of every URL the API answers on the morning of `as_of`.

        A month that ended before `as_of` never changes again, so its
        body is built once and kept.
        """
        months = self.months_visible(as_of)
        missing = self.spec.missing_url(as_of)
        self.bodies = {}
        for player in self.spec.players:
            urls = [archive_url(player, y, m) for y, m in months]
            self.bodies[list_url(player)] = json.dumps(
                {"archives": ([missing] if missing.startswith(f"{API}/{player}/") else []) + urls}
            )
            for (y, m), url in zip(months, urls):
                closed = dt.date(*_month_add(y, m, 1), 1) < as_of
                if closed and url in self._closed:
                    self.bodies[url] = self._closed[url]
                    continue
                games = _archive_entries(self.spec, player, y, m, as_of)
                body = json.dumps({"games": [g for g, _ in games]})
                self.bodies[url] = body
                self.game_counts[url] = len(games)
                if closed:
                    self._closed[url] = body
                for g, e in games:
                    owner = self.expect.get(g["url"])
                    if owner is None or url < owner["archive_url"]:
                        self.expect[g["url"]] = {**e, "username": player, "archive_url": url}

    def __call__(self, url: str) -> tuple[int, str]:
        body = self.bodies.get(url)
        if body is None:
            self.missing_served += 1
            return 404, ""
        self.bytes_served += len(body)
        if not url.endswith("/archives"):
            self.archives_served.append(url)
        return 200, body


# ---------------------------------------------------------------------------
# Corpus documents
# ---------------------------------------------------------------------------

WORDS = tuple(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu amber basalt cobalt dune ember fjord garnet harbor iris "
    "jasper kelp lagoon meadow nectar onyx pebble quartz river summit thistle "
    "tundra umber valley willow yarrow zephyr".split()
)
STOP = ("the", "a", "of", "to", "in", "and", "is", "it")


@dataclass(frozen=True)
class CorpusSpec:
    seed: int
    batches: int
    docs_per_batch: int
    exact_dup_share: float = 0.10
    near_dup_share: float = 0.10
    quality_fail_share: float = 0.10


def _doc_text(rng: random.Random, n_words: int) -> list[str]:
    out = []
    for _ in range(n_words):
        out.append(rng.choice(STOP) if rng.random() < 0.3 else rng.choice(WORDS) + str(rng.randint(0, 99)))
    return out


def corpus_batches(spec: CorpusSpec) -> list[list[tuple[int, str, str, str, str]]]:
    """Micro-batches of (doc_id, text, lang, source, kind) rows.

    `kind` is "original", "exact_dup", "near_dup" or "quality_fail".
    Exact duplicates repeat an earlier original with changed case and
    punctuation (same normalized fingerprint); near duplicates change
    two words in eighty of an earlier original (3-shingle Jaccard about
    0.85); quality fails are short punctuation-heavy documents without
    stopwords. Only the originals should reach the corpus sink.
    """
    rng = random.Random(f"{spec.seed}|corpus")
    originals: list[list[str]] = []
    batches = []
    doc_id = 0
    for _ in range(spec.batches):
        rows = []
        for _ in range(spec.docs_per_batch):
            doc_id += 1
            r = rng.random()
            if originals and r < spec.exact_dup_share:
                kind, words = "exact_dup", rng.choice(originals)
                text = " ".join(w.upper() if i % 7 == 0 else w for i, w in enumerate(words)) + " !"
            elif originals and r < spec.exact_dup_share + spec.near_dup_share:
                kind, words = "near_dup", list(rng.choice(originals))
                for j in rng.sample(range(len(words)), 2):
                    words[j] = rng.choice(WORDS) + "x"
                text = " ".join(words)
            elif r < spec.exact_dup_share + spec.near_dup_share + spec.quality_fail_share:
                kind = "quality_fail"
                text = " ".join(f"{rng.choice(WORDS)}!?#" for _ in range(rng.randint(3, 8)))
            else:
                kind, words = "original", _doc_text(rng, 80)
                originals.append(words)
                text = " ".join(words)
            rows.append((doc_id, text, "en", f"src{rng.randint(0, 3)}", kind))
        batches.append(rows)
    return batches


# ---------------------------------------------------------------------------
# Dashboard slicer session
# ---------------------------------------------------------------------------

TC_BUCKETS = ("bullet", "blitz", "rapid", "classical", "daily")
RATING_BUCKETS = tuple(f"{lo}-{lo + 99}" for lo in range(1100, 1900, 100))


def slicer_session(seed: int, spec: ChessSpec, stream: str = "session") -> list[dict]:
    """Slicer states over time-control bucket x date range x opponent-rating
    bucket. The order in which dimensions are cross-filtered (narrow) and
    released (widen) is fixed, so every seed's session has the same shape;
    the seed and `stream` pick the values."""
    rng = random.Random(f"{seed}|slicers|{stream}")
    first, last = spec.start, spec.end_day() - dt.timedelta(days=1)
    span = (last - first).days

    def pick(dim: str) -> dict:
        if dim == "tc":
            return {"time_control_buckets": sorted(rng.sample(TC_BUCKETS, 2))}
        if dim == "rating":
            return {"opponent_rating_buckets": sorted(rng.sample(RATING_BUCKETS, 4))}
        width = min(120, span)
        lo = rng.randint(0, span - width)
        return {"date_start": str(first + dt.timedelta(days=lo)),
                "date_end": str(first + dt.timedelta(days=lo + width))}

    shapes = ((), ("tc",), ("tc", "date"), ("tc", "date", "rating"), ("date", "rating"),
              ("rating",), ("tc", "rating"), ("date",))
    return [{k: v for dim in shape for k, v in pick(dim).items()} for shape in shapes]
