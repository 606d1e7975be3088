"""Each correctness check accepts a right answer and rejects a corrupted
one. Right answers are assembled here from the generator's series."""
import base64
import copy
import json
import os
import struct
import sys
import unittest
import zlib

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SEED = 5


def png(w, h):
    def chunk(kind, data):
        body = kind + data
        return struct.pack(">I", len(data)) + body + \
            struct.pack(">I", zlib.crc32(body))
    raw = b"".join(b"\x00" + b"\x00" * (4 * w) for _ in range(h))
    return (b"\x89PNG\r\n\x1a\n" +
            chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)) +
            chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def image_answer(req, series):
    t0, t1 = (checks.parse_ts(s) for s in req["time_range"])
    w, h = req["size"]
    images, descs = {}, {}
    axes = {}
    for a in req["attributes"]:
        axes.setdefault(a["y_axis"], []).append(a["name"])
    for axis, names in axes.items():
        win = {n: series.window(n, t0, t1) for n in names}
        lo, hi = checks.pad_range(min(float(v.min()) for _, v in win.values()),
                                  max(float(v.max()) for _, v in win.values()))
        images[str(axis)] = {
            "image": base64.b64encode(png(w, h)).decode(),
            "y_range": [lo, hi], "x_range": [t0 / 1000.0, t1 / 1000.0]}
        for n, (t, v) in win.items():
            px = np.minimum((t - t0) * w // (t1 - t0), w - 1)
            idx = sorted(set(px.tolist()))
            descs[n] = {
                "total_points": len(t), "indices": idx,
                "min": [float(v[px == i].min()) for i in idx],
                "max": [float(v[px == i].max()) for i in idx],
                "timestamps": [t0 + (i + 0.5) * (t1 - t0) / w for i in idx],
                "counts": [int((px == i).sum()) for i in idx]}
    return {"images": images, "descs": descs}


def render(series_rows, csv):
    if csv:
        return "\n".join(
            f"{name}\nt[us],value_r\n" + "".join(f"{t!r},{v!r}\n" for t, v in rows)
            for name, rows in series_rows)
    return json.dumps([{"target": n, "datapoints": [[v, t / 1000.0] for t, v in rows]}
                       for n, rows in series_rows])


class ImageCheck(unittest.TestCase):
    req = {"attributes": [{"name": "u0/view", "y_axis": 0},
                          {"name": "u1/click", "y_axis": 0},
                          {"name": "u2/purchase", "y_axis": 1}],
           "time_range": ["2024-03-05T01:00:00", "2024-03-05T04:00:00"],
           "size": [300, 80]}

    def setUp(self):
        self.series = checks.Series(SEED)
        self.good = image_answer(self.req, self.series)

    def bad(self, mutate):
        resp = copy.deepcopy(self.good)
        mutate(resp)
        return checks.check_image(self.req, resp, self.series)

    def test_accepts_right_answer(self):
        self.assertEqual(checks.check_image(self.req, self.good, self.series), [])

    def test_rejects_corruptions(self):
        d = lambda r: r["descs"]["u1/click"]  # noqa: E731
        for name, mutate in [
            ("total", lambda r: d(r).update(total_points=d(r)["total_points"] + 1)),
            ("count", lambda r: d(r)["counts"].__setitem__(3, d(r)["counts"][3] + 1)),
            ("min", lambda r: d(r)["min"].__setitem__(0, d(r)["min"][0] - 0.01)),
            ("max", lambda r: d(r)["max"].__setitem__(-1, d(r)["max"][-1] + 0.01)),
            ("index", lambda r: d(r)["indices"].pop()),
            ("y_range", lambda r: r["images"]["0"].update(y_range=[0, 1])),
            ("png size", lambda r: r["images"]["1"].update(
                image=base64.b64encode(png(300, 81)).decode())),
            ("png data", lambda r: r["images"]["1"].update(
                image=base64.b64encode(png(300, 80)[:-40]).decode())),
            ("axis", lambda r: r["images"].pop("1")),
            ("desc", lambda r: r["descs"].pop("u0/view")),
        ]:
            with self.subTest(name):
                self.assertNotEqual(self.bad(mutate), [])


class QueryCheck(unittest.TestCase):
    def setUp(self):
        self.series = checks.Series(SEED)

    def roundtrip(self, req, csv, corrupt=None):
        rows = checks.expected_query(req, self.series)
        if corrupt:
            rows = corrupt(copy.deepcopy(rows))
        return checks.check_query(req, csv, render(rows, csv), self.series)

    def test_resampled_and_raw(self):
        sparse = [k for k in self.series.points("u9/view")]
        self.assertEqual(len(sparse[0]), gen.SPARSE_POINTS)
        reqs = [
            {"targets": [{"target": "u0/view"}, {"target": "u3/signup"}],
             "range": {"from": "2024-03-06T00:00:00", "to": "2024-03-06T06:00:00"},
             "interval": "15m"},
            {"targets": [{"target": "u1/click"}, {"target": "u9/view"},
                         {"target": "u2/purchase"}],
             "range": {"from": "2024-03-06T00:00:00", "to": "2024-03-06T00:03:00"}},
        ]
        corruptions = [
            lambda rows: [(n, r[:-1]) for n, r in rows],
            lambda rows: [(n, [(t, v + 0.5) for t, v in r]) for n, r in rows],
            lambda rows: [(n, [(t + 5e6, v) for t, v in r]) for n, r in rows],
            lambda rows: rows[::-1],
        ]
        for req in reqs:
            for csv in (False, True):
                with self.subTest(req=req.get("interval"), csv=csv):
                    self.assertEqual(self.roundtrip(req, csv), [])
                    for c in corruptions:
                        self.assertNotEqual(self.roundtrip(req, csv, c), [])


class CatalogCheck(unittest.TestCase):
    names = checks.catalog_names()

    def test_attributes_search_controlsystems(self):
        att = {"kind": "attributes", "cs": gen.CS,
               "search": "events/stream/u12*/view", "max": 5}
        hits = sorted(n for n in self.names if n.startswith("events/stream/u12")
                      and n.endswith("/view"))
        good = json.dumps({"attributes": hits[:5]})
        self.assertEqual(checks.check_catalog(att, good, self.names), [])
        for bad in (hits[:4], hits[1:6], hits[:6], list(reversed(hits[:5]))):
            self.assertNotEqual(checks.check_catalog(
                att, json.dumps({"attributes": bad}), self.names), [])
        srch = {"kind": "search", "cs": gen.CS, "target": "U77/CL"}
        want = [n for n in self.names if "u77/cl" in n]
        self.assertEqual(checks.check_catalog(srch, json.dumps(want), self.names), [])
        self.assertNotEqual(checks.check_catalog(
            srch, json.dumps(want[:-1]), self.names), [])
        cs = {"kind": "controlsystems"}
        self.assertEqual(checks.check_catalog(
            cs, json.dumps({"controlsystems": [gen.CS]}), self.names), [])
        self.assertNotEqual(checks.check_catalog(
            cs, json.dumps({"controlsystems": []}), self.names), [])


class RevisitCheck(unittest.TestCase):
    def test_304_needs_an_earlier_200_with_that_etag(self):
        body = {"attributes": [{"name": "u0/view", "y_axis": 0}],
                "time_range": ["2024-03-05T01:00:00", "2024-03-05T02:00:00"],
                "size": [100, 40]}
        wire = base64.b64encode(json.dumps(
            image_answer(body, checks.Series(SEED))).encode()).decode()
        first = {"id": "c0-0", "kind": "image", "key": "v0", "revisit": False,
                 "spec": {"body": body}}
        again = dict(first, id="c0-1", revisit=True)
        plan = {"clients": [[first, again]]}
        ok = {"client": 0, "id": "c0-0", "status": 200, "etag": '"a"',
              "if_none_match": "", "encoding": "", "wire": wire}
        hit = {"client": 0, "id": "c0-1", "status": 304, "etag": '"a"',
               "if_none_match": '"a"', "encoding": "", "wire": ""}
        probs = run.check_serving(plan, [ok, hit], SEED)
        self.assertEqual([e for _, e in probs], [[], []])
        stale = dict(hit, etag='"b"', if_none_match='"b"')
        self.assertNotEqual(run.check_serving(plan, [ok, stale], SEED)[1][1], [])
        self.assertNotEqual(run.check_serving(plan, [hit], SEED)[0][1], [])


class ReplayCheck(unittest.TestCase):
    def test_replay_must_match_the_routes_bytes_and_work(self):
        op = {"same": True, "same_work": True, "jobs": 11, "replay_jobs": 11,
              "files_read": 1, "replay_files_read": 1,
              "rows_scanned": 352800, "replay_rows_scanned": 352800}
        self.assertEqual(run.replay_problems(op), [])
        self.assertNotEqual(run.replay_problems(dict(op, same=False)), [])
        # a route that scans once for two axes while the copy scans twice
        fewer = dict(op, same_work=False, jobs=7, rows_scanned=176400)
        self.assertNotEqual(run.replay_problems(fewer), [])


class PipelineDigest(unittest.TestCase):
    def test_digest_sees_every_cell(self):
        cols = ["doc_id", "cluster_id", "keep"]
        rows = [[1, 1, 1], [2, 1, 0], [3, 3, 1.0]]
        base = run.digest(checks.canon_rows(cols, rows))
        # column order and whole floats do not matter ...
        self.assertEqual(base, run.digest(checks.canon_rows(
            ["keep", "doc_id", "cluster_id"], [[r[2], r[0], r[1]] for r in rows])))
        # ... any changed cell, row or column name does
        for cols2, rows2 in [(cols, [[1, 1, 1], [2, 1, 1], [3, 3, 1]]),
                             (cols, rows[:2]),
                             (["doc_id", "cluster", "keep"], rows)]:
            self.assertNotEqual(base, run.digest(checks.canon_rows(cols2, rows2)))


if __name__ == "__main__":
    unittest.main()
