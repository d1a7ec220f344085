"""Output checks for the benchmark's jobs, done with pyarrow on the files the
jobs committed (no Spark job of their own except the parse-error scan).

Each check returns a list of failure messages; an empty list means correct.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq

from gen import CORRUPT_IMAGES, DEAD_URLS, ERROR_HOST, sha1_base32

_K = re.compile(r"/img/(\d+)\.html")


def read_parquet_dir(path: str) -> pa.Table:
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    return pa.concat_tables([pq.read_table(f) for f in files]) if files else None


def table_digest(table: pa.Table, sort_keys: list[str], strip: str = "") -> str:
    """sha256 over the rows of ``table`` sorted by ``sort_keys``, with
    ``strip`` (a run-specific directory prefix) removed from strings."""
    table = table.sort_by([(k, "ascending") for k in sort_keys])
    h = hashlib.sha256()
    for name in sorted(table.column_names):
        h.update(name.encode())
        for v in table.column(name).to_pylist():
            if isinstance(v, str) and strip:
                v = v.replace(strip, "")
            h.update(repr(v).encode())
    return h.hexdigest()


def lines_digest(lines: list[str], strip: str = "") -> str:
    h = hashlib.sha256()
    for line in sorted(x.replace(strip, "") for x in lines):
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def robots_allows(rules: list[tuple[str, str]], path: str) -> bool:
    """Longest matching prefix wins; a tie goes to allow; no match allows."""
    best = None
    for rtype, prefix in rules:
        if path.startswith(prefix):
            key = (len(prefix), rtype == "allow")
            if best is None or key > best[0]:
                best = (key, rtype)
    return best is None or best[1] == "allow"


def _page_k(url: str) -> int:
    return int(_K.search(url).group(1))


def read_crawl_log(store: str, epochs: int) -> pa.Table:
    """The crawl log as the checkpoint store committed it, all epochs."""
    return pa.concat_tables([read_parquet_dir(os.path.join(
        store, f"epoch={e:05d}", "crawl_log")) for e in range(epochs)])


def check_crawl(world: str, seeds_path: str, store: str,
                epochs: int, budget: int, recrawl: int | None,
                metric_lines: list[dict]) -> tuple[list[str], dict]:
    """Checks one ``crawl`` job: fetched rows carry their record's digest and
    caption, ``fetch_seq`` is dense from 1 per epoch, per-host fetches stay
    within budget, no fetched path is robots-denied, nothing is refetched
    inside the recrawl window, every epoch's statuses add up to its distinct
    candidates, and the only fetch errors are the planted ones.  Returns
    (failures, counts)."""
    bad: list[str] = []
    with open(os.path.join(world, "world.json")) as f:
        n = json.load(f)["n"]
    recs = pq.read_table(os.path.join(world, "records.parquet"),
                         columns=["image_id", "bytes", "caption"]).to_pydict()
    record = {i: (sha1_base32(b), c)
              for i, b, c in zip(recs["image_id"], recs["bytes"], recs["caption"])}
    rules: dict[str, list] = {}
    rob = pq.read_table(os.path.join(world, "robots.parquet")).to_pydict()
    for h, t, p in zip(rob["host"], rob["rule_type"], rob["path_prefix"]):
        rules.setdefault(h, []).append((t, p))

    log = read_crawl_log(store, epochs)
    rows = log.select(["epoch", "status", "url_norm", "host", "fetch_seq",
                       "image_id", "digest", "caption"]).to_pylist()
    by_epoch: dict[int, list[dict]] = {}
    for r in rows:
        by_epoch.setdefault(r["epoch"], []).append(r)
    if sorted(by_epoch) != list(range(epochs)):
        bad.append(f"crawl log epochs {sorted(by_epoch)} != 0..{epochs - 1}")

    error_ks = set(range(n, n + DEAD_URLS + CORRUPT_IMAGES))
    last_fetch: dict[int, int] = {}
    fetch_errors = attempts = 0
    for e in sorted(by_epoch):
        er = by_epoch[e]
        # candidates: distinct pages in the frontier this epoch read
        if e == 0:
            src = pq.read_table(seeds_path, columns=["url"]).column("url").to_pylist()
        else:
            src = read_parquet_dir(os.path.join(
                store, f"epoch={e - 1:05d}", "frontier")).column("url").to_pylist()
        candidates = {_page_k(u) for u in src}
        got = [_page_k(r["url_norm"]) for r in er]
        if len(got) != len(set(got)) or set(got) != candidates:
            bad.append(f"epoch {e}: {len(got)} log rows for {len(candidates)} candidates")
        reported = next((m for m in metric_lines if m.get("epoch") == e), None)
        if reported is None or sum(reported["statuses"].values()) != len(er):
            bad.append(f"epoch {e}: reported statuses do not add up to its rows")
        # fetch_seq numbers the epoch's fetch attempts 1..n (row_number style)
        seqs = sorted(r["fetch_seq"] for r in er if r["status"] in ("fetched", "fetch_error"))
        if seqs != list(range(1, len(seqs) + 1)):
            bad.append(f"epoch {e}: fetch_seq not dense from 1")
        per_host: dict[str, int] = {}
        for r in er:
            if r["status"] not in ("fetched", "fetch_error"):
                continue
            attempts += 1
            per_host[r["host"]] = per_host.get(r["host"], 0) + 1
            k = _page_k(r["url_norm"])
            path = f"/img/{k}.html"
            if not robots_allows(rules.get(r["host"], []), path):
                bad.append(f"epoch {e}: fetched robots-denied {r['url_norm']}")
            if r["status"] == "fetch_error":
                fetch_errors += 1
                if k not in error_ks:
                    bad.append(f"epoch {e}: unexpected fetch_error {r['url_norm']}")
                continue
            want = record.get(f"img-{k:09d}")
            if (k in error_ks or want is None or r["image_id"] != f"img-{k:09d}"
                    or (r["digest"], r["caption"]) != want):
                bad.append(f"epoch {e}: fetched row does not match record {k}")
            prev = last_fetch.get(k)
            # a fetch stays in the seen-set for the next ``recrawl`` epochs
            if prev is not None and (recrawl is None or e - prev <= recrawl):
                bad.append(f"epoch {e}: page {k} refetched after epoch {prev}")
            last_fetch[k] = e
        if per_host and max(per_host.values()) > budget:
            bad.append(f"epoch {e}: a host fetched {max(per_host.values())} > {budget}")
    planted = sum(1 for r in rows if r["status"] == "fetch_error")
    if planted != DEAD_URLS + CORRUPT_IMAGES:
        bad.append(f"{planted} fetch_error rows, planted {DEAD_URLS + CORRUPT_IMAGES}")
    if not any(r["host"] == ERROR_HOST for r in rows):
        bad.append("error host never attempted")
    return bad[:20], {"rows": len(rows), "attempts": attempts,
                      "fetch_errors": fetch_errors,
                      "fetched": sum(1 for r in rows if r["status"] == "fetched")}


def check_resume(original_epoch_dir: str, resumed_epoch_dir: str) -> list[str]:
    """The resumed final epoch must equal the original bit for bit."""
    bad = []
    for table in ("crawl_log", "seen_delta", "frontier"):
        a = read_parquet_dir(os.path.join(original_epoch_dir, table))
        b = read_parquet_dir(os.path.join(resumed_epoch_dir, table))
        keys = ["url_hash"] if "url_hash" in a.column_names else a.column_names
        if b is None or a.schema != b.schema or \
                table_digest(a, keys) != table_digest(b, keys):
            bad.append(f"resumed {table} differs from the original")
    return bad


def check_index(out_dir: str, truth: dict) -> list[str]:
    t = read_parquet_dir(out_dir)
    if t is None:
        return ["index wrote no parquet"]
    bad = []
    if t.num_rows != truth["captures"]:
        bad.append(f"index: {t.num_rows} captures, expected {truth['captures']}")
    cols = t.select(["url", "links"]).to_pydict()
    got = {u: sorted(ls or []) for u, ls in zip(cols["url"], cols["links"])}
    for url, links in truth["outlinks"].items():
        if got.get(url) != links:
            bad.append(f"index: outlinks of {url} differ")
            break
    return bad


def read_cdx(out_dir: str) -> list[list[str]]:
    """Lines of every part file, in part-file order."""
    parts = []
    for f in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(f) as fh:
            parts.append([line.rstrip("\n") for line in fh if line.strip()])
    return parts


def check_cdx(parts: list[list[str]], truth: dict) -> list[str]:
    bad = []
    lines = [line for p in parts for line in p]
    if len(lines) != truth["cdx_lines"]:
        bad.append(f"cdx: {len(lines)} lines, expected {truth['cdx_lines']}")
    keys = [line.split(" ", 1)[0] for line in lines]
    if any(a > b for a, b in zip(keys, keys[1:])):
        bad.append("cdx: output is not globally sorted by urlkey")
    return bad


def check_parse_errors(found: list[tuple[str, int]], truth: dict) -> list[str]:
    """Exactly the planted records carry ``parse_error``."""
    got = sorted([os.path.basename(f), int(o)] for f, o in found)
    if got != truth["corrupt"]:
        return [f"parse_error on {len(got)} records, planted {len(truth['corrupt'])}"]
    return []
