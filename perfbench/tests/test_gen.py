"""Generator determinism and the expected-answer model on a hand-checked
case.  Pure Python, no Spark:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from gen import Changeset, Generator, Model  # noqa: E402

T0 = dt.datetime(2025, 1, 1)


def _stream(seed: int, n: int = 300, diffs: int = 3) -> str:
    g = Generator(seed, T0, 5)
    parts = [gen.changeset_xml(c) for c in g.dump(n, n_malformed=2)]
    for _ in range(diffs):
        parts += [gen.changeset_xml(c) for c in g.next_diff()]
    return "\n".join(parts)


def test_same_seed_same_inputs():
    assert _stream(7) == _stream(7)


def test_other_seed_other_inputs():
    assert _stream(7) != _stream(8)


def test_written_files_are_byte_identical(tmp_path):
    for name in ("a", "b"):
        g = Generator(3, T0, 2)
        rows = g.dump(50, n_malformed=1)
        gen.write_osm(str(tmp_path / f"{name}.osm.gz"), rows + g.next_diff())
    assert (tmp_path / "a.osm.gz").read_bytes() == (tmp_path / "b.osm.gz").read_bytes()


def test_dump_traffic_dimensions():
    g = Generator(1, T0, 10)
    rows = g.dump(5000, n_malformed=4)
    good = [c for c in rows if c.id is not None]
    assert len(rows) - len(good) == 4
    assert all(not c.raw_id.isdigit() for c in rows if c.id is None)
    assert [c.created_at for c in good] == sorted(c.created_at for c in good)
    assert len({c.created_date for c in good}) == 10
    assert all(0 <= len(c.tags) <= 6 for c in good)
    def share(pred):
        return sum(1 for c in good if pred(c)) / len(good)

    # the FIXTURES.md shares, within sampling noise at n = 5000
    assert 0.04 < share(lambda c: c.user_id is None) < 0.06
    assert 0.02 < share(lambda c: c.bbox is None) < 0.04
    assert 0.01 < share(lambda c: c.open) < 0.03
    assert 0.08 < share(lambda c: c.comments) < 0.12
    assert 0.77 < share(lambda c: "created_by" in c.tags) < 0.83
    assert 0.37 < share(lambda c: "comment" in c.tags) < 0.43
    assert all(1 <= len(c.comments) <= 5 for c in good if c.comments)
    assert all(1 <= c.num_changes <= 10_000 for c in good)
    assert all((c.closed_at is None) == c.open for c in good)
    assert len(g.users) == 5000 // gen.CHANGESETS_PER_USER
    # Zipf: the most active user makes far more changesets than the median
    counts = {}
    for c in good:
        counts[c.user_id] = counts.get(c.user_id, 0) + 1
    ranked = sorted(counts.values(), reverse=True)
    assert ranked[0] > 20 * ranked[len(ranked) // 2]


def test_diff_mix():
    g = Generator(2, T0, 30)
    dump_ids = {c.id for c in g.dump(3000)}
    diff = g.next_diff()
    ids = [c.id for c in diff]
    assert len(ids) == len(set(ids))  # one element per id: LWW order is the sequence
    updates = [c for c in diff if c.id in dump_ids]
    assert len(diff) - len(updates) == gen.DIFF_NEW
    assert len(updates) == gen.DIFF_SIZE - gen.DIFF_NEW
    ages = [g.now - c.created_at for c in updates]
    for count, max_age in gen.DIFF_UPDATES:
        if max_age is not None:  # at least the stated count is that young
            assert sum(a <= dt.timedelta(days=max_age) for a in ages) >= count


def _cs(cid, uid, day, tags, bbox=None, n=1, comments=()):
    created = T0 + dt.timedelta(days=day, hours=1)
    return Changeset(
        id=cid, raw_id=str(cid) if cid is not None else "bad", user_id=uid,
        user_name=None if uid is None else f"u{uid}", created_at=created,
        closed_at=created + dt.timedelta(minutes=5), open=False, bbox=bbox,
        num_changes=n, tags=dict(tags), comments=list(comments),
    )


def _box(min_lat, max_lat, min_lon, max_lon):
    return tuple(round(v * gen.SCALE) for v in (min_lat, max_lat, min_lon, max_lon))


def test_model_hand_checked():
    d0, d1 = T0.date(), (T0 + dt.timedelta(days=1)).date()
    when = T0 + dt.timedelta(days=2)
    rows = [
        _cs(1, 10, 0, {"comment": "x", "created_by": "JOSM/1.5"}, _box(0, 0.1, 0, 0.1), 5),
        _cs(2, 10, 1, {"created_by": "iD 2.30"}, _box(0, 5, 0, 5), 7,
            comments=[(11, "u11", when, "hi"), (10, "u10", when, "me")]),
        _cs(3, 11, 1, {"comment": "y"}, None, 2),
        _cs(None, 12, 0, {"comment": "bad id"}, None, 1),  # quarantined row
    ]
    m = Model(rows)
    assert m.answer("comment_count", ()) == 3  # quarantined rows stay in the table
    assert m.answer("josm_count", ()) == 1
    assert m.answer("envelope_count", ((-1.0, -1.0, 1.0, 1.0),)) == 1
    assert m.answer("envelope_count", ((-1.0, -1.0, 6.0, 6.0),)) == 2
    # 0.1 deg x 0.1 deg at the equator is ~123.6 km2 < 225 km2; 5x5 is not
    assert m.answer("small_area_count", (d0, d1)) == 1
    assert m.answer("user_stats", (10,)) == (2, 12)
    assert m.answer("user_stats", (99,)) == (0, None)
    assert m.answer("range_stats", (d1, d1)) == (2, 9)
    assert m.answer("top_users", (d0, d1, 5)) == [(10, 2), (11, 1), (12, 1)]
    assert m.answer("comment_join", (d0, d1)) == 1  # u11 on u10's changeset
    assert m.state_summary()[:2] == (4, 3)

    # LWW: a later diff replaces the whole row of its key
    m.apply([_cs(3, 11, 1, {}, None, 9), _cs(4, None, 1, {"comment": "z"}, None, 1)])
    assert m.answer("comment_count", ()) == 3
    assert m.answer("range_stats", (d1, d1)) == (3, 17)
    assert m.state_summary()[:2] == (5, 4)


def test_area_matches_ease_grid_formula():
    # 1 deg x 1 deg at the equator: R^2 * rad(1) * sin(1 deg) ~ 12,364 km2
    a = gen.area_m2(_box(0, 1, 0, 1))
    assert abs(a / 1e6 - 12364.0) < 5.0
    # latitudes past the pole clamp to 90
    assert gen.area_m2(_box(80, 95, 0, 1)) == gen.area_m2(_box(80, 90, 0, 1))


def test_digest_string_renders_like_spark_cast():
    s = gen.digest_string(5, None, dt.datetime(2025, 1, 1, 0, 3, 7), None, True, 3, 1, 0)
    assert s == "5|∅|2025-01-01 00:03:07|∅|true|3|1|0"
