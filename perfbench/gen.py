"""Seeded input generator and pure-Python expected-answer model.

Everything the engine receives is a file written here: a changeset dump
(XML, the planet dump shape), minutely replication diffs (``.osm.gz``) and,
for the replicate workload, a base table written as parquet with pyarrow.
The same ``Changeset`` records feed ``Model``, which answers every
``load_query`` read query and gives the last-write-wins (LWW) final state of
a replication drain without Spark.

Traffic dimensions, all driven by ``random.Random(seed)``.  The shares
follow the repository's ``FIXTURES.md`` (section A1/A2, the changeset and
comment tables) where it gives one; every other number is an assumption of
this benchmark, marked "assumed" where it is set, not a measurement of OSM
traffic:

* users are Zipf-skewed over ``n / CHANGESETS_PER_USER`` users (FIXTURES:
  "Zipf over ~N/50 users"; the exponent ``ZIPF_S`` is assumed);
  ``ANON_SHARE`` of the changesets are anonymous (FIXTURES: ~5%);
* ``created_at`` is spread over the dump's days, ids increase with time;
* ``OPEN_SHARE`` open (FIXTURES: ~2%), ``NO_BBOX_SHARE`` bbox-less
  (FIXTURES: ~3%), a few bboxes past the pole, tiny to continent-sized;
* tags: each key of ``TAG_KEYS`` (the FIXTURES vocabulary) is present
  independently with its share, so a changeset has 0-6 tags; FIXTURES gives
  ``created_by`` ~80% and ``comment`` ~40%, the other shares are assumed.
  ``created_by`` values are drawn from ``EDITORS`` (assumed shares);
* ``num_changes`` is log-normal clipped to 1..10000 (FIXTURES; the
  parameters are assumed);
* ``DISCUSSION_SHARE`` of the changesets have 1-5 discussion comments
  (FIXTURES: ~10%), each by a named user, dated after the changeset;
* ``n_malformed`` elements carry a non-numeric id; the engine quarantines
  them as rows with a NULL id, and the model keeps them the same way.

Diffs hold ``DIFF_SIZE`` elements: ``DIFF_NEW`` new changesets, the rest
updates of existing ones (closing, more changes, sometimes a new comment or
a comment tag).  The update-age mix ``DIFF_UPDATES`` says how many of the
updated changesets were created within the last day, within two weeks, or
at any age.  The diff shape follows the benchmark's definition
("mostly new changesets; updates mostly of the last day, a small share of
old ones"); the exact numbers are assumed.  One id appears at most once
per diff, so LWW order is the diff sequence.
"""

from __future__ import annotations

import bisect
import datetime as dt
import gzip
import math
import random
import zlib
from dataclasses import dataclass, field, replace
from decimal import Decimal
from itertools import accumulate
from xml.sax.saxutils import escape, quoteattr

CHANGESETS_PER_USER = 50  # FIXTURES.md
ZIPF_S = 1.0  # assumed
ANON_SHARE = 0.05  # FIXTURES.md
OPEN_SHARE = 0.02  # FIXTURES.md
NO_BBOX_SHARE = 0.03  # FIXTURES.md
DISCUSSION_SHARE = 0.10  # FIXTURES.md, with 1-5 comments
# key -> share of changesets carrying it (FIXTURES.md vocabulary; the
# created_by and comment shares are FIXTURES.md's, the rest assumed)
TAG_KEYS = {
    "created_by": 0.80,
    "comment": 0.40,
    "source": 0.30,
    "imagery_used": 0.30,
    "locale": 0.25,
    "bot": 0.02,
}
# created_by values: FIXTURES.md's JOSM / iD / Potlatch prefixes plus two
# mobile editors; shares assumed
EDITORS = [
    ("JOSM/1.5 (19017 en)", 0.35),
    ("iD 2.30.4", 0.45),
    ("StreetComplete 58.1", 0.10),
    ("Vespucci 20.0.4.0", 0.05),
    ("Potlatch 2", 0.05),
]
NUM_CHANGES_LOGNORMAL = (2.5, 1.5)  # mu, sigma of ln(num_changes); assumed
WORDS = (
    "fix add update road building name path river bridge school park "
    "footway survey import tidy remove bus stop shop address landuse"
).split()

DIFF_NEW = 60  # new changesets per diff; assumed
DIFF_NEW_OPEN_SHARE = 0.7  # new changesets still open at diff time; assumed
# updates per diff by the age of the updated changeset: (count, max age in
# days, or None for any age).  Fixed counts, not shares, so every diff
# touches old partitions alike; assumed
DIFF_UPDATES = [(36, 1.0), (3, 14.0), (1, None)]
DIFF_SIZE = DIFF_NEW + sum(n for n, _ in DIFF_UPDATES)

AREA_LIMIT_M2 = 225_000_000.0  # the reference's 225 km2 equal-area filter
EASE_GRID_RADIUS_M = 6371228.0  # EPSG:3410 authalic sphere (geometry.py)
SCALE = 10**7  # coordinates are decimal(10,7): kept as integers * 1e7


@dataclass
class Changeset:
    id: int | None  # None for a malformed (quarantined) element
    raw_id: str
    user_id: int | None
    user_name: str | None
    created_at: dt.datetime
    closed_at: dt.datetime | None
    open: bool
    bbox: tuple[int, int, int, int] | None  # min_lat, max_lat, min_lon, max_lon
    num_changes: int
    tags: dict[str, str]
    comments: list[tuple[int | None, str | None, dt.datetime, str]] = field(
        default_factory=list
    )

    @property
    def created_date(self) -> dt.date:
        return self.created_at.date()


# ---------------------------------------------------------------------------
# generation


class Generator:
    """Deterministic changeset stream.  ``dump`` and ``next_diff`` share one
    rng and one clock, so a seed fixes the dump and every diff after it."""

    def __init__(self, seed: int, start: dt.datetime, days: float) -> None:
        self.rng = random.Random(seed)
        self.start = start
        self.days = days
        self.now = start + dt.timedelta(days=days)
        self.users: list[tuple[int, str]] = []
        self._user_cum: list[float] = []
        self._editor_cum = list(accumulate(p for _, p in EDITORS))
        self.next_id = 1_000_000
        self.rows: list[Changeset] = []  # well-formed rows, created_at order

    # -- building blocks ---------------------------------------------------
    def user(self, rng: random.Random | None = None) -> tuple[int, str]:
        """A Zipf-weighted (uid, name), drawn from ``rng`` or the stream's."""
        r = (rng or self.rng).random() * self._user_cum[-1]
        return self.users[bisect.bisect_left(self._user_cum, r)]

    def _set_users(self, n: int) -> None:
        count = max(1, n // CHANGESETS_PER_USER)
        uids = self.rng.sample(range(1, 20_000_000), count)
        self.users = [(u, f"mapper_{u}") for u in uids]
        self._user_cum = list(accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(count)))

    def _tags(self) -> dict[str, str]:
        tags = {}
        for k, share in TAG_KEYS.items():
            if self.rng.random() >= share:
                continue
            if k == "created_by":
                tags[k] = EDITORS[_pick(self.rng, self._editor_cum)][0]
            elif k == "comment":
                tags[k] = " ".join(self.rng.choices(WORDS, k=self.rng.randint(1, 6)))
            elif k == "bot":
                tags[k] = "yes"
            else:
                tags[k] = self.rng.choice(WORDS)
        return tags

    def _bbox(self) -> tuple[int, int, int, int] | None:
        if self.rng.random() < NO_BBOX_SHARE:
            return None
        while True:
            lat = self.rng.uniform(-60.0, 72.0)
            lon = self.rng.uniform(-179.0, 170.0)
            # extents from a few metres to continent-sized (assumed)
            dlat = 10 ** self.rng.uniform(-4.0, 1.2)
            dlon = 10 ** self.rng.uniform(-4.0, 1.4)
            box = (
                round(lat * SCALE),
                round((lat + dlat) * SCALE),
                round(lon * SCALE),
                round((lon + dlon) * SCALE),
            )
            if self.rng.random() < 0.002:  # past the pole (FIXTURES.md)
                box = (box[0], round(90.4 * SCALE), box[2], box[3])
            # stay clear of the area threshold so float rounding in either
            # engine can never flip a row across it
            if abs(area_m2(box) / AREA_LIMIT_M2 - 1.0) > 1e-6:
                return box

    def _comments(self, after: dt.datetime) -> list:
        out = []
        for _ in range(self.rng.randint(1, 5)):
            uid, name = self.user()
            after = after + dt.timedelta(seconds=self.rng.randint(60, 86_400))
            text = " ".join(self.rng.choices(WORDS, k=self.rng.randint(2, 8)))
            out.append((uid, name, after, text))
        return out

    def new_changeset(self, created: dt.datetime, open_share: float) -> Changeset:
        uid, name = (None, None) if self.rng.random() < ANON_SHARE else self.user()
        is_open = self.rng.random() < open_share
        closed = (
            None
            if is_open
            else created + dt.timedelta(seconds=self.rng.randint(30, 7200))
        )
        cid = self.next_id
        self.next_id += 1
        cs = Changeset(
            id=cid,
            raw_id=str(cid),
            user_id=uid,
            user_name=name,
            created_at=created,
            closed_at=closed,
            open=is_open,
            bbox=self._bbox(),
            num_changes=max(
                1, min(10_000, round(self.rng.lognormvariate(*NUM_CHANGES_LOGNORMAL)))
            ),
            tags=self._tags(),
        )
        if self.rng.random() < DISCUSSION_SHARE:
            cs.comments = self._comments(created)
        return cs

    # -- the dump ------------------------------------------------------------
    def dump(self, n: int, n_malformed: int = 0) -> list[Changeset]:
        """``n`` well-formed changesets over ``days`` (plus ``n_malformed``
        quarantine-bait elements at seeded positions), created_at order."""
        self._set_users(n)
        span = self.days * 86_400
        offs = sorted(self.rng.randrange(int(span)) for _ in range(n))
        rows = [
            self.new_changeset(
                self.start + dt.timedelta(seconds=o), OPEN_SHARE
            )
            for o in offs
        ]
        self.rows = list(rows)
        out = list(rows)
        for i in range(n_malformed):
            pos = self.rng.randrange(len(out) + 1)
            bad = replace(
                out[self.rng.randrange(n)], id=None, raw_id=f"x{i}-{self.rng.randrange(999)}"
            )
            out.insert(pos, bad)
        return out

    # -- replication diffs -------------------------------------------------
    def _pick_update(self, max_age: float | None, taken: set) -> int | None:
        if max_age is None:
            lo = 0
        else:
            cut = self.now - dt.timedelta(days=max_age)
            lo = bisect.bisect_left(self.rows, cut, key=lambda c: c.created_at)
        for _ in range(8):
            i = self.rng.randrange(lo, len(self.rows))
            if self.rows[i].id not in taken:
                return i
        return None

    def next_diff(self) -> list[Changeset]:
        """One minutely diff: new changesets created this minute plus full-
        state updates of existing ones (LWW replaces the whole row)."""
        self.now += dt.timedelta(minutes=1)
        n_new = DIFF_NEW
        out: list[Changeset] = []
        taken: set[int] = set()
        for count, max_age in DIFF_UPDATES:
            for _ in range(count):
                i = self._pick_update(max_age, taken)
                if i is None:
                    continue
                old = self.rows[i]
                taken.add(old.id)
                upd = replace(
                    old,
                    num_changes=min(10_000, old.num_changes + self.rng.randint(1, 200)),
                    open=False,
                    closed_at=old.closed_at or self.now,
                    tags=dict(old.tags),
                    comments=list(old.comments),
                )
                if self.rng.random() < 0.2:
                    since = max(old.created_at, self.now - dt.timedelta(days=1))
                    upd.comments.append(self._comments(since)[0])
                if self.rng.random() < 0.1:
                    upd.tags["comment"] = " ".join(self.rng.choices(WORDS, k=3))
                self.rows[i] = upd
                out.append(upd)
        for k in range(n_new):
            created = self.now - dt.timedelta(seconds=59 - k * 59 // n_new)
            out.append(self.new_changeset(created, DIFF_NEW_OPEN_SHARE))
        # new rows are the latest, so created_at order (the age bisect) holds
        self.rows.extend(out[len(taken):])
        return out


def _pick(rng: random.Random, cum: list[float]) -> int:
    return bisect.bisect_left(cum, rng.random() * cum[-1])


# ---------------------------------------------------------------------------
# serialization


def _coord(v: int) -> str:
    sign = "-" if v < 0 else ""
    return f"{sign}{abs(v) // SCALE}.{abs(v) % SCALE:07d}"


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def changeset_xml(cs: Changeset) -> str:
    a = [f"id={quoteattr(cs.raw_id)}", f'created_at="{_ts(cs.created_at)}"']
    if cs.closed_at is not None:
        a.append(f'closed_at="{_ts(cs.closed_at)}"')
    a.append(f'open="{"true" if cs.open else "false"}"')
    if cs.user_id is not None:
        a.append(f"user={quoteattr(cs.user_name)}")
        a.append(f'uid="{cs.user_id}"')
    if cs.bbox is not None:
        for name, v in zip(("min_lat", "max_lat", "min_lon", "max_lon"), cs.bbox):
            a.append(f'{name}="{_coord(v)}"')
    a.append(f'num_changes="{cs.num_changes}"')
    a.append(f'comments_count="{len(cs.comments)}"')
    head = "<changeset " + " ".join(a)
    if not cs.tags and not cs.comments:
        return head + "/>"
    body = [f"<tag k={quoteattr(k)} v={quoteattr(v)}/>" for k, v in cs.tags.items()]
    if cs.comments:
        body.append("<discussion>")
        for uid, name, date, text in cs.comments:
            who = "" if uid is None else f' uid="{uid}" user={quoteattr(name)}'
            body.append(
                f'<comment date="{_ts(date)}"{who}><text>{escape(text)}</text></comment>'
            )
        body.append("</discussion>")
    return head + ">" + "".join(body) + "</changeset>"


def write_osm(path: str, rows: list[Changeset]) -> int:
    """Write an ``<osm>`` document (gzip when ``path`` ends in .gz);
    returns the bytes written."""
    text = (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<osm version="0.6" generator="perfbench">\n'
        + "\n".join(changeset_xml(c) for c in rows)
        + "\n</osm>\n"
    ).encode()
    if path.endswith(".gz"):  # no name or mtime in the header: same seed, same bytes
        text = gzip.compress(text, mtime=0)
    with open(path, "wb") as fh:
        fh.write(text)
    return len(text)


def write_base_parquet(path: str, rows: list[Changeset], sequence: int) -> None:
    """The replicate workload's base table, in the engine's normalized
    changeset schema (plus ``sequence``), written without Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def dec(i):
        return None if i is None else Decimal(i).scaleb(-7)

    def coord(k):
        return pa.array(
            [dec(c.bbox[k]) if c.bbox else None for c in rows], pa.decimal128(10, 7)
        )

    comment_t = pa.struct(
        [
            ("comment_user_id", pa.int64()),
            ("comment_user_name", pa.string()),
            ("comment_date", pa.timestamp("us")),
            ("comment_text", pa.string()),
        ]
    )
    table = pa.table(
        {
            "id": pa.array([c.id for c in rows], pa.int64()),
            "user_id": pa.array([c.user_id for c in rows], pa.int64()),
            "created_at": pa.array([c.created_at for c in rows], pa.timestamp("us")),
            "min_lat": coord(0),
            "max_lat": coord(1),
            "min_lon": coord(2),
            "max_lon": coord(3),
            "closed_at": pa.array([c.closed_at for c in rows], pa.timestamp("us")),
            "open": pa.array([c.open for c in rows], pa.bool_()),
            "num_changes": pa.array([c.num_changes for c in rows], pa.int32()),
            "user_name": pa.array([c.user_name for c in rows], pa.string()),
            "tags": pa.array(
                [list(c.tags.items()) for c in rows], pa.map_(pa.string(), pa.string())
            ),
            "comments": pa.array(
                [
                    [
                        {
                            "comment_user_id": u,
                            "comment_user_name": n,
                            "comment_date": d,
                            "comment_text": t,
                        }
                        for u, n, d, t in c.comments
                    ]
                    for c in rows
                ],
                pa.list_(comment_t),
            ),
            "sequence": pa.array([sequence] * len(rows), pa.int64()),
        }
    )
    pq.write_table(table, path)


# ---------------------------------------------------------------------------
# expected answers


def area_m2(box: tuple[int, int, int, int]) -> float:
    """``geometry.bbox_area_m2`` in Python floats (EPSG:3410 equal area)."""
    # int / int is correctly rounded, so each value is the double nearest
    # the decimal(10,7) one, as Spark's cast to double gives it
    min_lat, max_lat = box[0] / SCALE, box[1] / SCALE
    lat1 = math.radians(max(-90.0, min(90.0, min_lat)))
    lat2 = math.radians(max(-90.0, min(90.0, max_lat)))
    dlon = math.radians((box[3] - box[2]) / SCALE)
    r = EASE_GRID_RADIUS_M
    return r * r * abs(dlon) * abs(math.sin(lat2) - math.sin(lat1))


NULL = "\u2205"  # placeholder for NULL in digest strings


def digest_string(
    cid, user_id, created_at, closed_at, is_open, num_changes, n_tags, n_comments
) -> str:
    """The per-row string a checksum covers: the columns a diff can change,
    rendered as Spark's ``cast(... as string)`` renders them."""
    vals = (cid, user_id, created_at, closed_at, is_open, num_changes, n_tags, n_comments)
    return "|".join(
        NULL if v is None else str(v).lower() if isinstance(v, bool) else str(v)
        for v in vals
    )


def model_digest(c: Changeset) -> int:
    return zlib.crc32(
        digest_string(
            c.id, c.user_id, c.created_at, c.closed_at, c.open, c.num_changes,
            len(c.tags), len(c.comments),
        ).encode()
    )


class Model:
    """LWW table state plus the answers to every read query."""

    def __init__(self, rows: list[Changeset]) -> None:
        self.by_id: dict[int, Changeset] = {}
        self.quarantined: list[Changeset] = []
        for c in rows:
            if c.id is None:
                self.quarantined.append(c)
            else:
                self.by_id[c.id] = c
        self._memo: dict = {}

    def apply(self, diff: list[Changeset]) -> None:
        for c in diff:
            self.by_id[c.id] = c
        self._memo.clear()

    def rows(self) -> list[Changeset]:
        return list(self.by_id.values()) + self.quarantined

    def state_summary(self) -> tuple[int, int, int]:
        """(rows, distinct non-null keys, sum of per-row crc32) of the table."""
        rows = self.rows()
        return len(rows), len(self.by_id), sum(map(model_digest, rows))

    def answer(self, kind: str, params: tuple):
        key = (kind, params)
        if key not in self._memo:
            self._memo[key] = getattr(self, "_q_" + kind)(*params)
        return self._memo[key]

    # one method per read query kind (see workloads.READ_MIX)
    def _q_comment_count(self):
        return sum(1 for c in self.rows() if "comment" in c.tags)

    def _q_josm_count(self):
        return sum(
            1 for c in self.rows() if c.tags.get("created_by", "").startswith("JOSM")
        )

    def _q_envelope_count(self, env):
        e_min_lon, e_min_lat, e_max_lon, e_max_lat = env
        n = 0
        for c in self.rows():
            if c.bbox is None:
                continue
            min_lat, max_lat, min_lon, max_lon = (v / SCALE for v in c.bbox)
            if (
                min_lon >= e_min_lon and max_lon <= e_max_lon
                and min_lat >= e_min_lat and max_lat <= e_max_lat
            ):
                n += 1
        return n

    def _q_small_area_count(self, d1, d2):
        return sum(
            1
            for c in self.rows()
            if c.bbox is not None
            and d1 <= c.created_date <= d2
            and area_m2(c.bbox) < AREA_LIMIT_M2
        )

    def _q_user_stats(self, uid):
        mine = [c for c in self.rows() if c.user_id == uid]
        return (len(mine), sum(c.num_changes for c in mine) if mine else None)

    def _q_range_stats(self, d1, d2):
        sel = [c for c in self.rows() if d1 <= c.created_date <= d2]
        return (len(sel), sum(c.num_changes for c in sel) if sel else None)

    def _q_top_users(self, d1, d2, k):
        counts: dict[int, int] = {}
        for c in self.rows():
            if c.user_id is not None and d1 <= c.created_date <= d2:
                counts[c.user_id] = counts.get(c.user_id, 0) + 1
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]

    def _q_comment_join(self, d1, d2):
        n = 0
        for c in self.rows():
            if c.id is None or not d1 <= c.created_date <= d2:
                continue
            for uid, _, _, _ in c.comments:
                if uid is not None and c.user_id is not None and uid != c.user_id:
                    n += 1
        return n
