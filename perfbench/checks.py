"""Correctness checks computed apart from the program: every expected
value is recomputed from the generator's series (gen.py) with numpy,
never read back from anything the program produced. Each check returns
a list of problems; an empty list means the response is correct."""
import base64
import fnmatch
import json
import struct
import zlib
from datetime import datetime, timezone

import numpy as np

import gen

_DENSE = {gen.att_name(*d): k for k, d in enumerate(gen.DENSE)}


def parse_ts(s):
    d = datetime.fromisoformat(s).replace(tzinfo=timezone.utc)
    return int(d.timestamp()) * gen.US + d.microsecond


class Series:
    """The generated points of each attribute, per seed."""

    def __init__(self, seed):
        self.seed = seed
        self._dense = {}
        self._sparse = None

    def points(self, name):
        if name in _DENSE:
            k = _DENSE[name]
            if k not in self._dense:
                self._dense[k] = gen.dense_series(self.seed, k)
            return self._dense[k]
        if self._sparse is None:
            u, ty, t, v = gen.sparse_series(self.seed)
            by = {}
            for i in np.lexsort((v, t, ty, u)):
                key = gen.att_name(int(u[i]), gen.TYPES[int(ty[i])])
                by.setdefault(key, ([], []))
                by[key][0].append(int(t[i]))
                by[key][1].append(float(v[i]))
            self._sparse = {k: (np.array(a, np.int64), np.array(b))
                            for k, (a, b) in by.items()}
        return self._sparse.get(name, (np.zeros(0, np.int64), np.zeros(0)))

    def window(self, name, t0, t1):
        t, v = self.points(name)
        a, b = np.searchsorted(t, t0, "left"), np.searchsorted(t, t1, "right")
        return t[a:b], v[a:b]

    def count(self, name, t0, t1):
        if name in _DENSE:
            return gen.dense_count(self.seed, _DENSE[name], t0, t1)
        return len(self.window(name, t0, t1)[0])


def pad_range(vmin, vmax):
    """Linear-axis range with 5 % padding; constant ranges invented."""
    if vmin == vmax:
        if vmin > 0:
            return vmin / 2, 1.5 * vmin
        if vmin == 0:
            return -0.5, 0.5
        return 1.5 * vmin, vmin / 2
    pad = 0.05 * (vmax - vmin)
    return vmin - pad, vmax + pad


def png_size(raw):
    """(width, height) of a PNG whose image data fully decodes."""
    if raw[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, idat, ihdr = 8, b"", None
    while pos < len(raw):
        n, kind = struct.unpack(">I4s", raw[pos:pos + 8])
        chunk = raw[pos + 8:pos + 8 + n]
        if kind == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif kind == b"IDAT":
            idat += chunk
        pos += 12 + n
    w, h, depth, color = ihdr[:4]
    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    if depth != 8 or len(zlib.decompress(idat)) != h * (1 + w * channels):
        raise ValueError("PNG data does not decode to its header size")
    return w, h


def check_image(req, resp, series):
    errs = []
    t0, t1 = (parse_ts(s) for s in req["time_range"])
    w, h = req["size"]
    span = t1 - t0
    axes = {}
    for a in req["attributes"]:
        axes.setdefault(a.get("y_axis", 0), []).append(a["name"])
    if set(resp.get("images", {})) != {str(k) for k in axes}:
        errs.append("image axes differ")
    if set(resp.get("descs", {})) != {a["name"] for a in req["attributes"]}:
        return errs + ["descs names differ"]
    for axis, names in axes.items():
        win = {n: series.window(n, t0, t1) for n in names}
        vmin = min(float(v.min()) for _, v in win.values())
        vmax = max(float(v.max()) for _, v in win.values())
        y_lo, y_hi = pad_range(vmin, vmax)
        img = resp["images"].get(str(axis))
        if img is None:
            continue
        if img["y_range"] != [y_lo, y_hi] or not (y_lo <= vmin <= vmax <= y_hi):
            errs.append(f"axis {axis}: y_range {img['y_range']} != {[y_lo, y_hi]}")
        if img["x_range"] != [t0 / 1000.0, t1 / 1000.0]:
            errs.append(f"axis {axis}: x_range differs")
        try:
            if png_size(base64.b64decode(img["image"])) != (w, h):
                errs.append(f"axis {axis}: PNG size differs")
        except (ValueError, TypeError, KeyError, struct.error, zlib.error) as e:
            errs.append(f"axis {axis}: bad PNG ({e})")
        for n in names:
            t, v = win[n]
            d = resp["descs"][n]
            if d["total_points"] != series.count(n, t0, t1) or \
                    d["total_points"] != len(t):
                errs.append(f"{n}: total_points {d['total_points']}")
            px = np.minimum((t - t0) * w // span, w - 1)
            cnt = np.bincount(px, minlength=w)
            lo = np.full(w, np.inf)
            hi = np.full(w, -np.inf)
            np.minimum.at(lo, px, v)
            np.maximum.at(hi, px, v)
            idx = np.nonzero(cnt)[0]
            want = {
                "indices": idx.tolist(),
                "counts": cnt[idx].tolist(),
                "min": lo[idx].tolist(),
                "max": hi[idx].tolist(),
                "timestamps": [t0 + (i + 0.5) * (t1 - t0) / w
                               for i in idx.tolist()],
            }
            for k, x in want.items():
                if d.get(k) != x:
                    errs.append(f"{n}: hover {k} differs")
    return errs


def parse_series(text, csv):
    """[(name, [(t_us_or_ms, value)])] from a /query body."""
    if not csv:
        return [(s["target"], [(p[1], p[0]) for p in s["datapoints"]])
                for s in json.loads(text)]
    out = []
    for block in text.split("\n\n"):
        lines = [x for x in block.split("\n") if x]
        if not lines:
            continue
        if lines[1] != "t[us],value_r":
            raise ValueError("bad CSV header")
        rows = []
        for ln in lines[2:]:
            t, v = ln.split(",")
            rows.append((float(t), float(v) if v else None))
        out.append((lines[0], rows))
    return out


def expected_query(req, series):
    """[(name, [(t_us, value)])] a /query body must render: raw points
    in the inclusive window, or round-to-nearest bucket means."""
    t0, t1 = (parse_ts(req["range"][k]) for k in ("from", "to"))
    iv = req.get("interval")
    out = []
    for tg in req["targets"]:
        name = tg["target"]
        t, v = series.window(name, t0, t1)
        if len(t) == 0:
            continue
        if iv is None:
            order = np.lexsort((v, t))
            rows = [(float(a), float(b)) for a, b in zip(t[order], v[order])]
        else:
            d = {"m": 60, "h": 3600}[iv[-1]] * int(iv[:-1]) * gen.US
            hh = t + d // 2
            bucket = hh - hh % d
            keys, inv, n = np.unique(bucket, return_inverse=True,
                                     return_counts=True)
            tsum = np.zeros(len(keys), dtype=np.int64)
            np.add.at(tsum, inv, t - gen.T0)
            vmean = np.bincount(inv, weights=v) / n
            rows = sorted(((gen.T0 * int(c) + int(s)) / int(c), float(m))
                          for s, c, m in zip(tsum, n, vmean))
        out.append((name, rows))
    return out


def check_query(req, csv, text, series):
    try:
        got = parse_series(text, csv)
    except (ValueError, KeyError, IndexError, TypeError) as e:
        return [f"unparseable body ({e})"]
    want = expected_query(req, series)
    if [n for n, _ in got] != [n for n, _ in want]:
        return [f"series {[n for n, _ in got]} != {[n for n, _ in want]}"]
    raw = req.get("interval") is None
    errs = []
    for (name, g), (_, e) in zip(got, want):
        if len(g) != len(e):
            errs.append(f"{name}: {len(g)} rows != {len(e)}")
            continue
        for (gt, gv), (et, ev) in zip(g, e):
            gt_us = gt if csv else gt * 1000.0
            if raw:
                ok = (gt == et if csv else gt == et / 1000.0) and gv == ev
            else:
                ok = (abs(gt_us - et) <= 1000.0 and gv is not None and
                      abs(gv - ev) <= 1e-9 * max(1.0, abs(ev)))
            if not ok:
                errs.append(f"{name}: row ({gt}, {gv}) != ({et}, {ev})")
                break
    return errs


def catalog_names():
    return [gen.catalog_name(u, t) for u in range(gen.USERS) for t in gen.TYPES]


def check_catalog(op, text, names):
    try:
        body = json.loads(text)
    except ValueError as e:
        return [f"unparseable body ({e})"]
    if op["kind"] == "controlsystems":
        want = {"controlsystems": [gen.CS]}
    elif op["kind"] == "attributes":
        hits = [] if op["cs"] != gen.CS else sorted(
            n for n in names
            if fnmatch.fnmatchcase(n.lower(), op["search"].lower()))
        want = {"attributes": hits[:op["max"]]}
    else:
        term = op["target"].lower()
        want = [] if op["cs"] != gen.CS else sorted(
            n for n in names if term in n.lower())
    return [] if body == want else [f"{op['kind']} result differs"]


def canon_rows(columns, rows):
    """Rows with columns in name order, whole floats as ints: the shape
    both Spark's and DuckDB's results are hashed in."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def norm(x):
        if isinstance(x, float) and x.is_integer():
            return int(x)
        if isinstance(x, (list, tuple)):
            return [norm(y) for y in x]
        if isinstance(x, dict):
            return {k: norm(y) for k, y in x.items()}
        return x
    return [sorted(columns)] + [[norm(r[i]) for i in order] for r in rows]
