"""Freshness pins for the committed oracle fixtures (round 4).

Each test regenerates a slice of a fixture with the same Spark-free code
the generator scripts use and compares it against the committed parquet
— so an edit to the kernel, corpus templates, tile math, codecs, or
multimodal operators goes red here until the matching
scripts/gen_*_oracle_fixtures.py is re-run (the d02 freshness pattern).

The g11/s06 SNAPSHOT fixtures have no Spark-free regeneration; their
freshness check IS the oracle gate itself (scripts/check_oracles.py),
which re-runs the operators in a fresh session and hash-compares.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from tests.conftest import requires_reference_corpus


def _key(row):
    """None-safe total order for row sorting."""
    return [(v is None, repr(v)) for v in row]

FIXDIR = os.path.join(os.path.dirname(__file__), "oracle_fixtures")

# a representative case slice: the first full template cycle + the two
# heavy-template cases inside sf0.01's range (HEAVY_EVERY = 61)
SAMPLE_CASES = list(range(64)) + [61, 122, 183, 244]
SAMPLE_DOCS = list(range(100))


def _fix(name):
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{FIXDIR}/{name}.parquet')"
    ).fetchall()


class TestGeoFixturesFresh:
    @pytest.fixture(scope="class")
    def regenerated(self):
        from scripts.gen_geo_oracle_fixtures import geo_case_rows

        return geo_case_rows(sorted(set(SAMPLE_CASES)))

    def test_g01_sample_fresh(self, regenerated):
        g01, _, _ = regenerated
        committed = {
            (c, o): n
            for c, o, n in _fix("g01_npolys_sf01")
            if c in set(SAMPLE_CASES)
        }
        assert committed == {(c, o): n for c, o, n in g01}

    def test_g02_sample_fresh(self, regenerated):
        _, g02, _ = regenerated
        committed = sorted(
            (r for r in _fix("g02_tiles_sf01") if r[0] in set(SAMPLE_CASES)),
            key=_key,
        )
        assert committed == sorted(g02, key=_key)

    def test_g03_sample_fresh(self, regenerated):
        _, _, g03 = regenerated
        committed = sorted(
            (r for r in _fix("g03_clip_sf01") if r[0] in set(SAMPLE_CASES)),
            key=_key,
        )
        assert committed == sorted(g03, key=_key)

    def test_g01_covers_sf01_case_space(self):
        rows = _fix("g01_npolys_sf01")
        cases = {r[0] for r in rows}
        assert cases == set(range(2500))  # sf0.1's 5000 docs -> 2500 cases
        assert len(rows) == 2500 * 4  # one row per (case, op)

    def test_g16_sample_fresh(self):
        from scripts.gen_geo_oracle_fixtures import g16_measure_rows

        sample = sorted(set(SAMPLE_CASES))
        expected = {
            (c, role): tuple(m[k] for k in (
                "n_polys", "n_rings", "n_vertices", "area",
                "xmin", "ymin", "xmax", "ymax",
            ))
            for c, role, m in g16_measure_rows(sample)
        }
        committed = {
            (r[0], r[1]): tuple(r[2:])
            for r in _fix("g16_measures_sf01")
            if r[0] in set(SAMPLE_CASES)
        }
        # exact == on floats (bit-level up to zero-sign, which the +0.0
        # canonicalization in measures_python pins)
        assert committed == expected

    def test_g16_covers_sf01_case_space(self):
        rows = _fix("g16_measures_sf01")
        assert {r[0] for r in rows} == set(range(2500))
        assert len(rows) == 2500 * 2  # one row per (case, role)

    def test_g17_sample_fresh(self):
        from scripts.gen_geo_oracle_fixtures import g17_simplify_rows

        sample = sorted(set(SAMPLE_CASES))
        expected = {(r[0], r[1]): r[2:] for r in g17_simplify_rows(sample)}
        committed = {
            (r[0], r[1]): r[2:]
            for r in _fix("g17_simplify_sf01")
            if r[0] in set(SAMPLE_CASES)
        }
        assert committed == expected

    def test_g17_covers_sf01_case_space_and_simplifies(self):
        rows = _fix("g17_simplify_sf01")
        assert {r[0] for r in rows} == set(range(2500))
        assert len(rows) == 2500 * 2
        # the tolerance actually thins the corpus (no vacuous fixture)
        assert sum(r[2] - r[3] for r in rows) > 0

    def test_g18_sample_fresh(self):
        from scripts.gen_geo_oracle_fixtures import g18_hull_rows

        sample = sorted(set(SAMPLE_CASES))
        expected = {(r[0], r[1]): r[2:] for r in g18_hull_rows(sample)}
        committed = {
            (r[0], r[1]): r[2:]
            for r in _fix("g18_hull_sf01")
            if r[0] in set(SAMPLE_CASES)
        }
        assert committed == expected

    def test_g19_sample_fresh(self):
        from scripts.gen_geo_oracle_fixtures import g19_iou_rows

        sample = sorted(set(SAMPLE_CASES))
        expected = {r[0]: r[1:] for r in g19_iou_rows(sample)}
        committed = {
            r[0]: r[1:]
            for r in _fix("g19_iou_sf01")
            if r[0] in set(SAMPLE_CASES)
        }
        # exact == on the area doubles (fold-order-pinned twins)
        assert committed == expected

    def test_g19_covers_sf01_case_space_nontrivially(self):
        rows = _fix("g19_iou_sf01")
        assert {r[0] for r in rows} == set(range(2500))
        # unions strictly positive; at least one genuine partial overlap
        assert all(r[2] > 0 for r in rows)
        assert any(0.0 < r[1] / r[2] < 1.0 for r in rows)

    def test_g20_sample_fresh(self):
        from scripts.gen_geo_oracle_fixtures import g20_weight_rows

        sample = sorted(set(SAMPLE_CASES))
        expected = {(r[0], r[1]): r[2:] for r in g20_weight_rows(sample)}
        committed = {
            (r[0], r[1]): r[2:]
            for r in _fix("g20_tile_weights_sf01")
            if r[0] in set(SAMPLE_CASES)
        }
        assert committed == expected

    def test_g20_covers_sf01_and_weights_partition(self):
        rows = _fix("g20_tile_weights_sf01")
        assert {r[0] for r in rows} == set(range(2500))
        # per-case clip areas sum to the geometry area for fully covered
        # subjects (exact FP equality is not guaranteed for sums across
        # tiles, so allow a tiny relative tolerance here — the ORACLE
        # comparison never sums, it checks per-row values)
        from collections import defaultdict

        acc = defaultdict(float)
        geom = {}
        for cid, _tid, ca, ga in rows:
            acc[cid] += ca
            geom[cid] = ga
        assert all(abs(acc[c] - geom[c]) <= 1e-9 * max(1.0, abs(geom[c])) for c in geom)

    def test_g21_sample_fresh(self):
        from scripts.gen_geo_oracle_fixtures import g21_shape_rows

        sample = sorted(set(SAMPLE_CASES))
        expected = {(r[0], r[1]): r[2:] for r in g21_shape_rows(sample)}
        committed = {
            (r[0], r[1]): r[2:]
            for r in _fix("g21_shape_sf01")
            if r[0] in set(SAMPLE_CASES)
        }
        assert committed == expected

    def test_g21_covers_sf01_both_roles_sane(self):
        rows = _fix("g21_shape_sf01")
        assert {(r[0], r[1]) for r in rows} == {
            (c, role)
            for c in range(2500)
            for role in ("subject", "clipping")
        }
        # every corpus geometry encloses positive area, has a finite
        # centroid inside its own frame slot, and a positive boundary
        for _cid, _role, area, cx, cy, per in rows:
            assert area > 0.0 and per > 0.0
            assert cx is not None and cy is not None

    def test_g18_covers_sf01_case_space_and_convexifies(self):
        rows = _fix("g18_hull_sf01")
        assert {r[0] for r in rows} == set(range(2500))
        assert len(rows) == 2500 * 2
        # every hull is a real polygon and strictly drops interior points
        # somewhere (no vacuous fixture)
        assert all(r[3] >= 3 for r in rows)
        assert sum(r[2] - r[3] for r in rows) > 0


def test_g36_sample_fresh():
    """g36's winding fixture: regenerate the sample slice with the
    pure-python kernel + the CPython winding twin and require equality —
    pins the FP-lockstep rule between measures.ring_windings (JVM) and
    winding_audit_python."""
    from scripts.gen_geo_oracle_fixtures import g36_winding_rows

    sample = sorted(set(SAMPLE_CASES))
    committed = sorted(
        (r for r in _fix("g36_winding_sf01") if r[0] in set(sample)), key=_key
    )
    assert committed == sorted(
        ((c, o, int(orient), bool(h), int(n)) for c, o, orient, h, n in
         g36_winding_rows(sample)),
        key=_key,
    )


def test_g11_fresh_flat_fold():
    """g11's fixture regenerates from the pure-python FLAT sorted fold —
    an independent fold structure from the operator's salted buckets."""
    from scripts.gen_geo_oracle_fixtures import g11_dissolve_rows

    assert sorted(_fix("g11_dissolve_sf001")) == sorted(g11_dissolve_rows())


@requires_reference_corpus
def test_g09_expected_fresh_and_reference_derived():
    """g09's fixture regenerates byte-identically from the reference's
    own fixture files — full regeneration (45 files, no kernel)."""
    from scripts.gen_geo_oracle_fixtures import g09_expected_rows

    regenerated = sorted(g09_expected_rows())
    committed = sorted(_fix("g09_expected"))
    assert committed == regenerated
    assert len(committed) == 78
    ops = {r[1] for r in committed}
    assert ops == {"intersection", "union", "diff", "diff_ba", "xor"}


class TestMediaFixturesFresh:
    @pytest.fixture(scope="class")
    def regenerated(self):
        from scripts.gen_media_oracle_fixtures import media_fixture_frames

        return media_fixture_frames(SAMPLE_DOCS)

    def _sample_urls(self):
        from rust_geo_booleanop_spark.sources.documents import synth_url

        return {synth_url(d) for d in SAMPLE_DOCS}

    def test_m01_sample_fresh(self, regenerated):
        urls = self._sample_urls()
        committed = sorted(
            r for r in _fix("m01_image_features_sf01") if r[0] in urls
        )
        assert committed == sorted(
            (u, int(w), int(h), int(p)) for u, w, h, p in regenerated[0]
        )

    def test_m02_sample_fresh(self, regenerated):
        urls = self._sample_urls()
        committed = sorted(
            r for r in _fix("m02_audio_frames_sf01") if r[0] in urls
        )
        assert committed == sorted(
            (u, int(f), int(p)) for u, f, p in regenerated[1]
        )

    def test_m06_sample_fresh(self, regenerated):
        urls = self._sample_urls()
        committed = sorted(
            r for r in _fix("m06_audio_energy_sf01") if r[0] in urls
        )
        assert committed == sorted(
            (u, int(f), int(e), int(z)) for u, f, e, z in regenerated[4]
        )

    def test_m07_sample_fresh(self, regenerated):
        urls = self._sample_urls()
        committed = sorted(
            r for r in _fix("m07_image_stats_sf01") if r[0] in urls
        )
        assert committed == sorted(
            (u, int(np), int(ps), int(mn), int(mx), int(nd), int(nb))
            for u, np, ps, mn, mx, nd, nb in regenerated[5]
        )

    def test_m08_sample_fresh(self, regenerated):
        urls = self._sample_urls()
        committed = sorted(
            r for r in _fix("m08_video_frame_stats_sf01") if r[0] in urls
        )
        assert committed == sorted(
            (u, int(f), int(np), int(ps), int(mn), int(mx))
            for u, f, np, ps, mn, mx in regenerated[6]
        )

    def test_m03_sample_fresh(self, regenerated):
        urls = self._sample_urls()
        committed = sorted(
            r for r in _fix("m03_video_frames_sf01") if r[0] in urls
        )
        assert committed == sorted(
            (u, int(f), int(t)) for u, f, t in regenerated[2]
        )

    def test_m04_sample_fresh(self, regenerated):
        urls = self._sample_urls()
        committed = sorted(r for r in _fix("m04_thumbs_sf01") if r[0] in urls)
        assert committed == sorted(
            (u, int(w), int(h), md5) for u, w, h, md5 in regenerated[3]
        )

    def test_m11_sample_fresh(self, regenerated):
        urls = self._sample_urls()
        committed = sorted(
            (r for r in _fix("m11_media_sizes_sf01") if r[0] in urls), key=_key
        )
        assert committed == sorted(
            (
                (u, k, int(n), None if d != d else int(d))
                for u, k, n, d in regenerated[7]
            ),
            key=_key,
        )

    def test_m05_full_fresh(self):
        """m05's fixture is only 200 group urls — recompute it WHOLE and
        require byte equality (no sampling needed at this size)."""
        from scripts.gen_media_oracle_fixtures import m05_fixture_rows

        committed = sorted(_fix("m05_pixel_hash_grp"))
        assert committed == sorted(
            (u, int(w), int(h), md5) for u, w, h, md5 in m05_fixture_rows()
        )
        # every group hash distinct: duplicate groups collapse by url,
        # never by accidental pixel collision
        assert len({r[3] for r in committed}) == len(committed)
