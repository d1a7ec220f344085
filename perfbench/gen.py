"""Seeded input generator for the product-path benchmark.

Two inputs, both pure functions of ``(seed, size)`` and cached on disk by
that pair:

* the **crawl world** — image+caption records, a seed list, an outlink graph
  and robots rules as parquet, in the shapes the ``crawl`` job reads
  (``--records/--seeds/--link-graph/--robots``).  Page URLs follow the crawl
  job's ``/img/<k>.html`` → ``img-%09d`` record-id contract; hosts are
  Zipf-skewed.  The seed moves host assignment, link targets, seed choice,
  image formats and robots rules, not only pixels.
* the **WARC corpus** — plain ``.warc`` and per-record-gzip ``.warc.gz``
  files with request/response pairs, HTML pages with outlinks, PNG images,
  non-200 responses and a fixed number of corrupt records, plus a ground
  truth sidecar (``truth.json``).

Every fetch failure in the crawl world is planted on one host
(``errors.example.org``) that only the seed list reaches, so the crawl's
``fetch_error`` count is the same known number on every seed.

Run directly to materialize one workload's inputs, at the sizes
``run.WORKLOADS`` gives it:
``python3 perfbench/gen.py --workload crawl_breadth --seed 1``.
"""

from __future__ import annotations

import argparse
import base64
import gzip
import hashlib
import json
import os
import shutil
import struct
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_HOSTS = 64
ERROR_HOST = "errors.example.org"
DEAD_URLS = 8          # error-host pages with no record behind them
CORRUPT_IMAGES = 8     # error-host records whose bytes do not decode
FORMATS = ("png", "jpeg", "bmp")
FORMAT_WEIGHTS = (0.5, 0.15, 0.35)
POOL_PER_FORMAT = 24   # distinct encoded images per format and seed
WORDS = (
    "mona lisa portrait archive crawl image caption web frontier record "
    "pixel colour museum painting photo snapshot capture harvest index"
).split()
WARC_FILES = 8         # half plain .warc, half per-record gzip .warc.gz
CORRUPT_RECORDS = 16   # WARC records with an unparseable header block


def host_name(i: int) -> str:
    return f"host{i:03d}.example.org"


def raw_url(host: str, k: int, variant: int) -> str:
    """One of four spellings of page ``k`` that the crawl job canonicalizes
    to the same URL (scheme, ``www.`` and host case collapse)."""
    if variant == 0:
        return f"http://{host}/img/{k}.html"
    if variant == 1:
        return f"https://{host}/img/{k}.html"
    if variant == 2:
        return f"http://www.{host}/img/{k}.html"
    return f"http://{host.upper()}/img/{k}.html"


def sha1_base32(data: bytes) -> str:
    return base64.b32encode(hashlib.sha1(data).digest()).decode("ascii")


def oversized_header_png(height: int = 16) -> bytes:
    """A PNG signature and a valid IHDR chunk whose width is 2^31 + 2^28,
    with no pixel data: a corrupt fetched image whose header width does not
    fit a signed 32-bit integer."""
    ihdr = struct.pack(">IIBBBBB", 0x90000000, height, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr)))


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def input_digests(root: str) -> dict[str, str]:
    """sha256 of every regular file under ``root``, keyed by relative path."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for fn in sorted(files):
            p = os.path.join(dirpath, fn)
            out[os.path.relpath(p, root)] = file_sha256(p)
    return dict(sorted(out.items()))


def version() -> str:
    """Short digest of this generator's source: a changed generator never
    reads inputs an older one cached."""
    return file_sha256(os.path.abspath(__file__))[:12]


def _cached(root: str, build) -> str:
    """Build ``root`` once: stage into a temp dir, then rename (a killed
    build leaves no half-written cache entry)."""
    if os.path.isfile(os.path.join(root, "DONE")):
        return root
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    return root


# -- crawl world ---------------------------------------------------------------


def _image_pool(rng: np.random.Generator):
    from webarchive_discovery_spark.functions.imaging import average_hash, encode_image

    pool = {}
    for fmt in FORMATS:
        entries = []
        for _ in range(POOL_PER_FORMAT):
            w, h = (int(x) for x in rng.integers(8, 33, 2))
            if fmt == "jpeg":  # smooth field: the content class lossy codecs keep
                yy, xx = np.mgrid[0:h, 0:w]
                base = rng.uniform(60, 195, 3)
                rgb = np.stack([np.clip(b + 2 * xx - yy, 0, 255) for b in base],
                               axis=2).astype(np.uint8)
            else:
                rgb = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            entries.append((encode_image(rgb, fmt), w, h, average_hash(rgb)))
        pool[fmt] = entries
    return pool


def world_dir(cache: str, seed: int, n: int) -> str:
    return os.path.join(cache, f"world-s{seed}-n{n}")


def gen_world(cache: str, seed: int, n: int) -> str:
    """Records, link graph and robots rules of an ``n``-page world."""
    return _cached(world_dir(cache, seed, n), lambda d: _write_world(d, seed, n))


def _write_world(out: str, seed: int, n: int) -> None:
    rng = np.random.default_rng([seed, n, 1])
    # the seed deals the Zipf ranks (and with them the robots rules) to the
    # host names; the shape of the skew is the same on every seed
    rank = rng.permutation(N_HOSTS)
    weights = 1.0 / (rank + 1)
    host_of = rng.choice(N_HOSTS, n, p=weights / weights.sum())
    hosts = [host_name(i) for i in range(N_HOSTS)]
    variant = rng.integers(0, 4, n + DEAD_URLS + CORRUPT_IMAGES)
    fmt_idx = rng.choice(len(FORMATS), n, p=FORMAT_WEIGHTS)
    pool_idx = rng.integers(0, POOL_PER_FORMAT, n)
    pool = _image_pool(rng)

    ids, blobs, ws, hs, fmts, captions, phashes = [], [], [], [], [], [], []
    for k in range(n):
        fmt = FORMATS[fmt_idx[k]]
        data, w, h, ph = pool[fmt][pool_idx[k]]
        ids.append(f"img-{k:09d}")
        blobs.append(data)
        ws.append(w)
        hs.append(h)
        fmts.append(fmt)
        words = rng.integers(0, len(WORDS), int(rng.integers(4, 12)))
        captions.append(f"{k} " + " ".join(WORDS[i] for i in words))
        phashes.append(ph)
    # corrupt records on the error host, k in [n + DEAD_URLS, n + DEAD +
    # CORRUPT): PNGs cut short inside their pixel data
    for j in range(CORRUPT_IMAGES):
        k = n + DEAD_URLS + j
        data, w, h, _ = pool["png"][j % POOL_PER_FORMAT]
        ids.append(f"img-{k:09d}")
        blobs.append(data[: len(data) * 3 // 5])
        ws.append(w)
        hs.append(h)
        fmts.append("png")
        captions.append(f"{k} corrupt")
        phashes.append(0)
    records = pa.table({
        "image_id": ids, "bytes": pa.array(blobs, pa.binary()),
        "w": pa.array(ws, pa.int32()), "h": pa.array(hs, pa.int32()),
        "fmt": fmts, "caption": captions, "phash": pa.array(phashes, pa.int64()),
    })
    pq.write_table(records, os.path.join(out, "records.parquet"))

    # outlinks: 1-5 per page, 40% to the same host, the rest anywhere
    by_host = [np.flatnonzero(host_of == i) for i in range(N_HOSTS)]
    src, dst = [], []
    fanout = rng.integers(1, 6, n)
    for k in range(n):
        same = by_host[host_of[k]]
        for _ in range(fanout[k]):
            t = (int(same[rng.integers(0, len(same))]) if rng.random() < 0.4
                 else int(rng.integers(0, n)))
            src.append(raw_url(hosts[host_of[k]], k, variant[k]))
            dst.append(raw_url(hosts[host_of[t]], t, int(rng.integers(0, 4))))
    pq.write_table(pa.table({"src_url": src, "dst_url": dst}),
                   os.path.join(out, "link_graph.parquet"))

    # robots, by Zipf rank: a sixth of the hosts deny /img/ outright; a third
    # deny /img/1 but re-allow the longer /img/12 (longest prefix wins)
    rows = []
    for i in range(N_HOSTS):
        r = int(rank[i])
        delay = (100, 250, 500, 1000)[r % 4]
        if r % 6 == 5:
            rows.append((hosts[i], "deny", "/img/", delay))
        elif r % 3 == 1:
            rows += [(hosts[i], "deny", "/img/1", delay),
                     (hosts[i], "allow", "/img/12", delay),
                     (hosts[i], "allow", "/", delay)]
        else:
            rows.append((hosts[i], "allow", "/", delay))
    rows.append((ERROR_HOST, "allow", "/", 100))
    robots = pa.table({
        "host": [r[0] for r in rows], "rule_type": [r[1] for r in rows],
        "path_prefix": [r[2] for r in rows],
        "crawl_delay_ms": pa.array([r[3] for r in rows], pa.int32()),
    })
    pq.write_table(robots, os.path.join(out, "robots.parquet"))
    meta = {"seed": seed, "n": n, "host_of": host_of.tolist(),
            "variant": variant.tolist()}
    with open(os.path.join(out, "world.json"), "w") as f:
        json.dump(meta, f)


def gen_seeds(cache: str, seed: int, n: int, n_seeds: int) -> str:
    """Seed list of ``n_seeds`` world pages plus every error-host page."""
    world = gen_world(cache, seed, n)
    path = os.path.join(world, f"seeds-{n_seeds}.parquet")
    if os.path.exists(path):
        return path
    with open(os.path.join(world, "world.json")) as f:
        meta = json.load(f)
    rng = np.random.default_rng([seed, n, n_seeds, 2])
    ks = rng.choice(n, min(n_seeds, n), replace=False)
    urls = [raw_url(host_name(meta["host_of"][k]), int(k), meta["variant"][k])
            for k in ks]
    urls += [raw_url(ERROR_HOST, k, 0)
             for k in range(n, n + DEAD_URLS + CORRUPT_IMAGES)]
    table = pa.table({"url": urls, "hops": pa.array([0] * len(urls), pa.int32())})
    pq.write_table(table, path + ".tmp")
    os.replace(path + ".tmp", path)
    return path


# -- WARC corpus ----------------------------------------------------------------


def corpus_dir(cache: str, seed: int, m: int) -> str:
    return os.path.join(cache, f"warc-s{seed}-m{m}")


def gen_corpus(cache: str, seed: int, m: int) -> str:
    """About ``m`` WARC records in ``WARC_FILES`` files under ``warcs/``,
    plus ``truth.json``."""
    return _cached(corpus_dir(cache, seed, m), lambda d: _write_corpus(d, seed, m))


def _warc_record(rtype: str, uri: str | None, date: str, body: bytes,
                 ctype: str, rid: int, length: str | None = None) -> bytes:
    head = [b"WARC/1.0", f"WARC-Type: {rtype}".encode(),
            f"WARC-Record-ID: <urn:uuid:{rid:032x}>".encode(),
            f"WARC-Date: {date}".encode()]
    if uri is not None:
        head.append(f"WARC-Target-URI: {uri}".encode())
    head += [f"Content-Type: {ctype}".encode(),
             f"Content-Length: {length if length is not None else len(body)}".encode()]
    return b"\r\n".join(head) + b"\r\n\r\n" + body + b"\r\n\r\n"


def _http_response(status: int, reason: str, ctype: str, payload: bytes,
                   location: str | None = None) -> bytes:
    head = [f"HTTP/1.1 {status} {reason}", f"Content-Type: {ctype}",
            f"Content-Length: {len(payload)}", "Server: perfbench"]
    if location:
        head.append(f"Location: {location}")
    return ("\r\n".join(head) + "\r\n\r\n").encode() + payload


def _write_corpus(out: str, seed: int, m: int) -> None:
    from webarchive_discovery_spark.functions.imaging import encode_image

    rng = np.random.default_rng([seed, m, 3])
    pngs = [encode_image(rng.integers(0, 256, (h, h, 3), dtype=np.uint8), "png")
            for h in rng.integers(8, 33, 16)]
    n_sites = 40
    captures = max(1, (m - WARC_FILES - CORRUPT_RECORDS) // 2)
    # capture kinds: 0 html 200, 1 png 200, 2 404, 3 301, 4 500
    kinds = rng.choice(5, captures, p=[0.5, 0.25, 0.1, 0.1, 0.05])
    sites = rng.integers(0, n_sites, captures)
    file_of = rng.integers(0, WARC_FILES, captures)
    corrupt_file = rng.integers(0, WARC_FILES, CORRUPT_RECORDS)
    corrupt_pos = rng.integers(0, captures, CORRUPT_RECORDS)

    os.makedirs(os.path.join(out, "warcs"))
    streams: list[list[bytes]] = [[] for _ in range(WARC_FILES)]
    truth = {"types": {"warcinfo": WARC_FILES, "request": 0, "response": 0},
             "status": {}, "outlinks": {}, "corrupt": [], "records": 0}
    corrupt_at: dict[int, list[int]] = {}
    for f, p in zip(corrupt_file, corrupt_pos):
        corrupt_at.setdefault(int(p), []).append(int(f))
    for f in range(WARC_FILES):
        body = f"software: perfbench\r\nformat: WARC File Format 1.0\r\n".encode()
        streams[f].append(_warc_record("warcinfo", None, "2020-01-01T00:00:00Z",
                                       body, "application/warc-fields", f))
    rid = WARC_FILES
    for c in range(captures):
        for f in corrupt_at.get(c, []):
            streams[f].append(_warc_record("response", None, "2020-01-01T00:00:00Z",
                                           b"", "application/http; msgtype=response",
                                           rid, length="corrupt"))
            truth["corrupt"].append([f, len(streams[f]) - 1])
            rid += 1
        kind, f = int(kinds[c]), int(file_of[c])
        host = f"site{int(sites[c]):02d}.example.net"
        sec = c % 86400
        date = f"2020-{1 + c % 12:02d}-{1 + c % 28:02d}T{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}Z"
        if kind == 1:
            url = f"http://{host}/media/{c}.png"
            resp = _http_response(200, "OK", "image/png", pngs[c % len(pngs)])
            status = 200
        elif kind == 0:
            url = f"http://{host}/page/{c}.html"
            links = sorted({f"http://site{int(s):02d}.example.net/page/{int(t)}.html"
                            for s, t in zip(rng.integers(0, n_sites, int(rng.integers(0, 7))),
                                            rng.integers(0, captures, 7))})
            truth["outlinks"][url] = links
            html = "<html><head><title>p%d</title></head><body>%s</body></html>" % (
                c, "".join(f'<p><a href="{u}">link</a></p>' for u in links))
            resp = _http_response(200, "OK", "text/html; charset=utf-8", html.encode())
            status = 200
        else:
            url = f"http://{host}/page/{c}.html"
            status, reason = {2: (404, "Not Found"), 3: (301, "Moved Permanently"),
                              4: (500, "Server Error")}[kind]
            loc = f"http://{host}/page/{c}/" if status == 301 else None
            resp = _http_response(status, reason, "text/html", b"<html>gone</html>", loc)
        req = f"GET {url[url.index('/', 8):]} HTTP/1.1\r\nHost: {host}\r\n\r\n".encode()
        streams[f].append(_warc_record("request", url, date, req,
                                       "application/http; msgtype=request", rid))
        streams[f].append(_warc_record("response", url, date, resp,
                                       "application/http; msgtype=response", rid + 1))
        rid += 2
        truth["types"]["request"] += 1
        truth["types"]["response"] += 1
        truth["status"][str(status)] = truth["status"].get(str(status), 0) + 1

    corrupt_offsets = []
    for f, recs in enumerate(streams):
        gz = f % 2 == 1
        name = f"corpus-{f:02d}.warc" + (".gz" if gz else "")
        offsets, pos, blob = [], 0, []
        for r in recs:
            chunk = gzip.compress(r, compresslevel=6, mtime=0) if gz else r
            offsets.append(pos)
            blob.append(chunk)
            pos += len(chunk)
        with open(os.path.join(out, "warcs", name), "wb") as fh:
            fh.write(b"".join(blob))
        corrupt_offsets += [[name, offsets[i]] for ff, i in truth["corrupt"] if ff == f]
    truth["corrupt"] = sorted(corrupt_offsets)
    truth["records"] = sum(len(s) for s in streams)
    truth["types"]["corrupt"] = CORRUPT_RECORDS
    truth["captures"] = sum(v for s, v in truth["status"].items() if s[0] in "23")
    truth["cdx_lines"] = truth["types"]["response"]
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)


def main() -> None:
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import run

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(run.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    b = run.Bench(os.getcwd(), a.workload, a.seed)
    b.make_inputs()
    print(b.world)
    print(b.seeds)
    print(b.corpus)


if __name__ == "__main__":
    main()
