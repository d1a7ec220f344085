"""Traced run: the product path once untraced, then a walk over the layers.

The walk calls each layer's public function on the workload's real inputs —
for the crawl, every epoch's committed frontier and seen deltas read back
from the checkpoint store — and materializes the layer's output inside the
layer's span.  Spark work inside a span runs under a job group equal to the
span id, so the event log attributes it (``tracing.attribute``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import checks
import gen
from tracing import Tracer, attribute, percentile, read_event_log, self_times

BLOOM = dict(capacity=1_000_000, fpr=1e-6, shards=16)  # the crawl job's defaults
IMAGING_SAMPLE = 120   # fetch attempts per image format decoded in this process

# (metric, unit, better); a layer's busy_s is the self time of its spans
PER_LAYER = [
    ("session.get_spark.busy_s", "s", "lower"),
    ("operators.frontier.canonicalize_frontier.busy_s", "s", "lower"),
    ("operators.frontier.canonicalize_frontier.urls", "count", "higher"),
    ("operators.frontier.canonicalize_frontier.python_bytes", "B", "lower"),
    ("functions.imaging.records", "count", "higher"),
    ("functions.imaging.failed", "count", "lower"),
    ("functions.imaging.decode_ms_png", "ms", "lower"),
    ("functions.imaging.decode_ms_jpeg", "ms", "lower"),
    ("functions.imaging.decode_ms_bmp", "ms", "lower"),
    ("operators.frontier.global_sequence.busy_s", "s", "lower"),
    ("operators.frontier.global_sequence.rows", "count", "higher"),
    ("operators.frontier.global_sequence.jobs", "count", "lower"),
    ("operators.frontier.global_sequence.staging_bytes", "B", "lower"),
    ("operators.frontier.robots_match.busy_s", "s", "lower"),
    ("operators.frontier.robots_match.rows", "count", "higher"),
    ("operators.frontier.robots_match.denied", "count", "higher"),
    ("operators.bloom.build_bloom.busy_s", "s", "lower"),
    ("operators.bloom.build_bloom.keys", "count", "higher"),
    ("operators.bloom.bloom_negative_filter.busy_s", "s", "lower"),
    ("operators.bloom.bloom_negative_filter.probes", "count", "higher"),
    ("operators.bloom.bloom_negative_filter.maybe_hits", "count", "lower"),
    ("operators.bloom.false_positives", "count", "lower"),
    ("operators.bloom.useful_ratio", "ratio", "higher"),
    ("operators.frontier.url_seen_anti_join.busy_s", "s", "lower"),
    ("operators.frontier.url_seen_anti_join.rows_in", "count", "higher"),
    ("operators.frontier.url_seen_anti_join.rows_out", "count", "higher"),
    ("plans.checkpoint.write.busy_s", "s", "lower"),
    ("plans.checkpoint.write.bytes", "B", "lower"),
    ("plans.checkpoint.write.files", "count", "lower"),
    ("plans.checkpoint.read_merged.busy_s", "s", "lower"),
    ("plans.checkpoint.read_merged.deltas", "count", "lower"),
    ("plans.crawl.jobs_per_epoch", "count", "lower"),
    ("plans.crawl.stages_per_epoch", "count", "lower"),
    ("plans.crawl.tasks_per_epoch", "count", "lower"),
    ("plans.crawl.unattributed_s", "s", "lower"),
    ("sources.warc.warc_records.busy_s", "s", "lower"),
    ("sources.warc.warc_records.records", "count", "higher"),
    ("sources.warc.warc_records.bytes", "B", "higher"),
    ("sources.warc.warc_records.parse_errors", "count", "lower"),
    ("sources.warc.warc_records.python_bytes", "B", "lower"),
    ("operators.record_filters.default_filter_chain.busy_s", "s", "lower"),
    ("operators.record_filters.default_filter_chain.rows_in", "count", "higher"),
    ("operators.record_filters.default_filter_chain.rows_out", "count", "higher"),
    ("schema_capture.extract_capture.busy_s", "s", "lower"),
    ("schema_capture.extract_capture.captures", "count", "higher"),
    ("schema_capture.extract_capture.python_bytes", "B", "lower"),
    ("operators.sinks.busy_s", "s", "lower"),
    ("operators.sinks.bytes_out", "B", "lower"),
    ("operators.cdx.total_order_sort.busy_s", "s", "lower"),
    ("operators.cdx.total_order_sort.rows", "count", "higher"),
    ("operators.cdx.total_order_sort.jobs", "count", "lower"),
    ("operators.cdx.total_order_sort.shuffle_bytes", "B", "lower"),
    ("trace.overhead_ratio", "ratio", "lower"),
]


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``."""
    total = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return total, files


def materialize(df, span: dict, **counts):
    """Run ``df`` to completion inside ``span`` and keep it (localCheckpoint),
    recording its row count and each ``counts`` aggregate on the span."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")] + [c.alias(k) for k, c in counts.items()]
    out = df.observe(obs, *aggs).localCheckpoint()
    span["attrs"].update({k: int(v or 0) for k, v in obs.get.items()})
    return out


def walk_crawl(b, tr: Tracer, rep: dict) -> None:
    from pyspark.sql import functions as F

    from webarchive_discovery_spark.operators import frontier as fop
    from webarchive_discovery_spark.operators.bloom import (
        BloomParams,
        bloom_negative_filter,
        build_bloom,
    )
    from webarchive_discovery_spark.plans.checkpoint import CheckpointStore
    from webarchive_discovery_spark.plans.crawl import _fetch_simulate

    sp, s = b.spark, b.spec
    store = CheckpointStore(rep["ckpt"])
    rewrite = CheckpointStore(os.path.join(b.run_dir, "trace_ckpt"))
    robots = sp.read.parquet(os.path.join(b.world, "robots.parquet"))
    records = sp.read.parquet(os.path.join(b.world, "records.parquet"))
    staging = os.path.join(b.run_dir, "staging")
    links = sp.read.parquet(os.path.join(b.world, "link_graph.parquet"))
    for e in range(s["epochs"]):
        with tr.span("plans.crawl.epoch", epoch=e):
            frontier = (sp.read.parquet(b.seeds) if e == 0
                        else store.read(sp, e - 1, "frontier"))
            if "retries" not in frontier.columns:
                frontier = frontier.withColumn("retries", F.lit(0))
            with tr.span("operators.frontier.canonicalize_frontier") as sn:
                canon = materialize(fop.canonicalize_frontier(frontier, "url"), sn)
            # run_crawl's link graph is canonicalized lazily, so every epoch's
            # outlink expansion pays for the whole graph again
            with tr.span("operators.frontier.canonicalize_frontier", input="link_graph") as sn:
                materialize(fop.canonicalize_frontier(
                    links.select(F.col("src_url").alias("url"), "dst_url"), "url"), sn)
            # _epoch_plan's dedup, aggregate for aggregate
            with tr.span("plans.crawl.dedup") as sn:
                dd = materialize(canon.groupBy("url_hash").agg(
                    *[F.min(c).alias(c) for c in ("url_norm", "url_key", "host",
                                                  "url_path", "hops")],
                    F.max("retries").alias("retries"),
                    F.count(F.lit(1)).alias("inlinks")), sn)
            new = dd
            if e > 0:
                with tr.span("plans.checkpoint.read_merged") as sn:
                    lo = 0 if s["recrawl"] is None else max(0, e - s["recrawl"])
                    sn["attrs"]["deltas"] = e - lo
                    seen = materialize(store.read_merged(
                        sp, e - 1, "seen_delta", window=s["recrawl"]), sn)
                if sn["attrs"]["rows"]:
                    with tr.span("operators.bloom.build_bloom", keys=sn["attrs"]["rows"]):
                        bloom = build_bloom(seen, "url_hash", BloomParams(
                            BLOOM["capacity"], BLOOM["fpr"], BLOOM["shards"]))
                    with tr.span("operators.bloom.bloom_negative_filter") as sn:
                        probed = materialize(
                            bloom_negative_filter(dd, "url_hash", bloom), sn,
                            maybe_hits=F.sum(F.col("maybe_seen").cast("int")))
                        sn["attrs"]["probes"] = sn["attrs"]["rows"]
                    # run_crawl's exact seen check: an anti-join (and a
                    # semi-join for the dup_seen rows) of the Bloom's maybe
                    # hits only, written inline in _epoch_plan
                    maybe = probed.filter(F.col("maybe_seen"))
                    with tr.span("operators.frontier.url_seen_anti_join",
                                 rows_in=sn["attrs"]["maybe_hits"]) as sn:
                        confirmed = materialize(
                            maybe.join(seen.select("url_hash"), "url_hash", "left_anti"), sn)
                        sn["attrs"]["rows_out"] = sn["attrs"]["rows"]
                        maybe.join(seen.select("url_hash"), "url_hash",
                                   "left_semi").localCheckpoint()
                    new = (probed.filter(~F.col("maybe_seen")).unionByName(confirmed)
                           .drop("maybe_seen"))
            with tr.span("operators.frontier.robots_match") as sn:
                rm = materialize(fop.robots_match(new, robots), sn,
                                 denied=F.sum((~F.col("robots_allowed")).cast("int")))
            with tr.span("operators.frontier.global_sequence") as sn:
                mark = fop.staging_mark()
                materialize(fop.global_sequence(rm, [F.col("url_key")], seq_col="_seq"), sn)
                sn["attrs"]["staging_bytes"] = dir_size(staging)[0]
                fop.release_staging(mark)
            # the crawl's fetch kernel on this epoch's fetch attempts
            with tr.span("functions.imaging") as sn:
                log = store.read(sp, e, "crawl_log")
                attempts = log.filter(F.col("status").isin("fetched", "fetch_error"))
                materialize(_fetch_simulate(attempts.select("image_id").join(
                    records, "image_id", "left")), sn,
                    failed=F.sum((~F.col("fetch_ok")).cast("int")))
            with tr.span("plans.checkpoint.write") as sn:
                rewrite.write(e, {t: store.read(sp, e, t)
                                  for t in ("crawl_log", "seen_delta", "frontier")})
                sn["attrs"]["bytes"], sn["attrs"]["files"] = dir_size(
                    os.path.join(rewrite.root, f"epoch={e:05d}"))


def imaging_direct(b, tr: Tracer, rep: dict) -> dict:
    """Call the fetch kernels directly, on this process's single core, on a
    sample of the crawl's fetch attempts; decoded dims must equal the
    record's."""
    import pyarrow.parquet as pq

    from webarchive_discovery_spark.functions.imaging import (
        average_hash,
        decode_image,
        image_dims,
    )
    from webarchive_discovery_spark.functions.normalisation import sha1_base32_digest

    log = checks.read_crawl_log(rep["ckpt"], b.spec["epochs"]).to_pydict()
    attempts = sorted((e, q, i) for e, q, i, st in zip(
        log["epoch"], log["fetch_seq"], log["image_id"], log["status"])
        if st in ("fetched", "fetch_error"))
    recs = pq.read_table(os.path.join(b.world, "records.parquet")).to_pydict()
    rec = {i: (d, f, w, h) for i, d, f, w, h in zip(
        recs["image_id"], recs["bytes"], recs["fmt"], recs["w"], recs["h"])}
    taken = {f: 0 for f in gen.FORMATS}
    ms = {f: [] for f in gen.FORMATS}
    out = {"records": 0, "failed": 0}
    with tr.span("functions.imaging.direct"):
        for _, _, image_id in attempts:
            r = rec.get(image_id)
            if r is None:
                continue
            data, fmt, w, h = r
            planted = int(image_id[4:]) >= b.spec["world"]  # the error host's
            if taken[fmt] >= IMAGING_SAMPLE and not planted:
                continue
            taken[fmt] += 1
            out["records"] += 1
            t0 = time.perf_counter()
            try:
                sha1_base32_digest(data)
                image_dims(data)
                rgb = decode_image(data, fmt)
                average_hash(rgb)
                good = rgb.shape[:2] == (h, w)
            except Exception:
                good = False
            ms[fmt].append((time.perf_counter() - t0) * 1e3)
            if not good:
                out["failed"] += 1
    for f in gen.FORMATS:
        out[f"decode_ms_{f}"] = statistics.median(ms[f]) if ms[f] else 0.0
    return out


def walk_archive(b, tr: Tracer) -> None:
    from pyspark.sql import functions as F

    from webarchive_discovery_spark.functions.udfs import resolve_relative_udf
    from webarchive_discovery_spark.operators import cdx
    from webarchive_discovery_spark.operators.frontier import canonicalize_frontier
    from webarchive_discovery_spark.operators.record_filters import default_filter_chain
    from webarchive_discovery_spark.operators.sinks import write_text_lines
    from webarchive_discovery_spark.schema_capture import extract_capture
    from webarchive_discovery_spark.sources.warc import read_binary_files, warc_records

    sp = b.spark
    out = os.path.join(b.run_dir, "trace_out")
    with tr.span("sources.warc.warc_records") as sn:
        recs = materialize(warc_records(read_binary_files(sp, b.warcs)), sn,
                           parse_errors=F.sum(F.col("parse_error").isNotNull().cast("int")))
        sn["attrs"]["records"] = n_records = sn["attrs"]["rows"]
        sn["attrs"]["bytes"] = dir_size(b.warcs)[0]
    with tr.span("operators.record_filters.default_filter_chain") as sn:
        kept = materialize(default_filter_chain(recs, url_col="target_uri",
                                                status_col="http_status"), sn)
        sn["attrs"].update(rows_in=n_records, rows_out=sn["attrs"]["rows"])
    with tr.span("schema_capture.extract_capture") as sn:
        captures = materialize(extract_capture(kept, with_links=True), sn)
        sn["attrs"]["captures"] = sn["attrs"]["rows"]
    with tr.span("operators.frontier.canonicalize_frontier") as sn:
        canon = materialize(canonicalize_frontier(recs, "target_uri"), sn)
    # the cdx job's projection, with the expressions cli.cmd_cdx uses
    # (its redirect column is a Python UDF)
    with tr.span("operators.cdx.cdx11_line") as sn:
        status = F.col("http_status").cast("int")
        projected = cdx.cdx_project(canon.select(
            F.col("url_key").alias("urlkey"),
            F.date_format(F.to_timestamp(F.col("warc_date")), "yyyyMMddHHmmss")
            .alias("timestamp"),
            F.col("target_uri").alias("url"),
            F.coalesce(F.col("http_content_type"), F.col("content_type"),
                       F.lit("-")).alias("mime"),
            F.coalesce(status, F.lit(0)).alias("status_code"),
            F.coalesce(F.col("payload_digest"), F.lit("-")).alias("digest"),
            F.coalesce(
                F.when((status >= 300) & (status < 400)
                       & F.col("redirect_location").isNotNull(),
                       resolve_relative_udf(F.col("target_uri"),
                                            F.col("redirect_location"))),
                F.lit("-"),
            ).alias("redirect"),
            F.lit("-").alias("meta"),
            "source_file", "record_offset", "record_type",
        ), "urlkey", "source_file", "record_offset")
        projected = cdx.cdx_junk_filter(projected.filter(
            F.col("record_type").isin("response", "revisit") & F.col("url").isNotNull()),
            "mime", "record_type")
        lined = materialize(cdx.cdx11_line(projected), sn)
    with tr.span("operators.cdx.total_order_sort") as sn:
        ordered = materialize(cdx.total_order_sort(lined, "urlkey"), sn)
    with tr.span("operators.sinks") as sn:
        captures.write.mode("overwrite").parquet(os.path.join(out, "index"))
        write_text_lines(ordered, "cdx_line", os.path.join(out, "cdx"), gzip_output=False)
        sn["attrs"]["bytes_out"] = dir_size(out)[0]


def _sum(spans, name, key):
    return sum(s["attrs"].get(key, 0) for s in spans if s["name"] == name)


def traced(b, seconds: float) -> tuple[dict, dict]:
    """The ``--trace 1`` run; returns (per-layer metrics, detail record)."""
    t_setup = b.setup_once()
    sc = b.spark.sparkContext
    tr = Tracer(sc)
    tr.add("session.get_spark", *b.get_spark_window)

    sc.setJobGroup("untraced", "untraced product path")
    t0 = time.perf_counter()
    rep = b.crawl_path(os.path.join(b.run_dir, "crawl"))
    archive = b.archive_path(os.path.join(b.run_dir, "archive"))
    untraced_s = time.perf_counter() - t0
    counts = b.check_crawl(rep)
    digests = b.check_archive(archive)
    sc.setJobGroup("reference", "uninterrupted crawl the resume must equal")
    b.check_resume(rep, b.run_dir)
    sc.setJobGroup("probe", "known-defect probes")
    known_defects = b.known_defects()

    t1 = time.perf_counter()
    with tr.span("trace"):
        with tr.span("plans.crawl"):
            walk_crawl(b, tr, rep)
        imaging = imaging_direct(b, tr, rep)
        with tr.span("archive"):
            walk_archive(b, tr)
    traced_s = time.perf_counter() - t1
    b.stop()  # closes the event log
    groups, jobs = attribute(read_event_log(os.path.join(b.run_dir, "events")))

    spans = tr.spans
    st = self_times(spans)
    m: dict[str, float] = {}
    busy: dict[str, float] = {}
    for s in spans:
        busy[s["name"]] = busy.get(s["name"], 0.0) + st[s["id"]]
        g = groups.get(s["id"], {})
        for k in ("jobs", "stages", "tasks", "shuffle_bytes", "python_bytes"):
            s["attrs"][k] = s["attrs"].get(k, 0) + g.get(k, 0)
    for name, _, _ in PER_LAYER:
        layer, _, metric = name.rpartition(".")
        if metric == "busy_s":
            m[name] = busy.get(layer, 0.0)
        elif layer in busy:
            m[name] = _sum(spans, layer, metric)
    for k, v in imaging.items():
        m[f"functions.imaging.{k}"] = v
    m["operators.frontier.canonicalize_frontier.urls"] = _sum(
        spans, "operators.frontier.canonicalize_frontier", "rows")
    # the Bloom filter has no false negatives, so every exact duplicate the
    # anti-join drops was a "maybe" hit
    dups = (_sum(spans, "operators.frontier.url_seen_anti_join", "rows_in")
            - _sum(spans, "operators.frontier.url_seen_anti_join", "rows_out"))
    hits = _sum(spans, "operators.bloom.bloom_negative_filter", "maybe_hits")
    m["operators.bloom.false_positives"] = hits - dups
    m["operators.bloom.useful_ratio"] = dups / hits if hits else 0.0
    parse_errors = _sum(spans, "sources.warc.warc_records", "parse_errors")
    if parse_errors != len(b.truth["corrupt"]):
        b.failures.append(f"reader flagged {parse_errors} records, "
                          f"planted {len(b.truth['corrupt'])}")
    for layer, key, want in (("schema_capture.extract_capture", "captures", "captures"),
                             ("operators.cdx.total_order_sort", "rows", "cdx_lines")):
        if _sum(spans, layer, key) != b.truth[want]:
            b.failures.append(f"{layer}: {_sum(spans, layer, key)} {key}, "
                              f"expected {b.truth[want]}")
    kernel_failed = _sum(spans, "functions.imaging", "failed")
    if kernel_failed != counts["fetch_errors"]:
        b.failures.append(f"fetch kernel failed {kernel_failed} attempts, "
                          f"the crawl logged {counts['fetch_errors']} fetch errors")
    if imaging["failed"] != gen.CORRUPT_IMAGES:
        b.failures.append(f"fetch kernels failed {imaging['failed']} records, "
                          f"planted {gen.CORRUPT_IMAGES}")

    # per-epoch Spark work of the untraced crawl, bucketed by the manifest
    # commit times (the resume job is the final epoch), and the untraced
    # time the layer spans miss
    bounds = rep["epoch_bounds"] + [rep["resume_end"]]
    epochs_s = rep["epochs_s"] + [rep["resume_s"]]
    per_epoch = []
    for i in range(len(bounds) - 1):
        js = [j for j in jobs if j["group"] == "untraced"
              and bounds[i] <= j["submit_s"] < bounds[i + 1]]
        per_epoch.append({"jobs": len(js), "stages": sum(j["stages"] for j in js),
                          "tasks": sum(j["tasks"] for j in js)})
    for k in ("jobs", "stages", "tasks"):
        m[f"plans.crawl.{k}_per_epoch"] = statistics.median(p[k] for p in per_epoch)
    unattributed = []
    for s in spans:
        if s["name"] == "plans.crawl.epoch":
            layer_s = sum(st[c["id"]] for c in spans if c["parent"] == s["id"])
            unattributed.append(epochs_s[s["attrs"]["epoch"]] - layer_s)
    m["plans.crawl.unattributed_s"] = percentile(unattributed, 50)
    m["trace.overhead_ratio"] = traced_s / untraced_s

    os.makedirs(os.path.join(b.work, "results"), exist_ok=True)
    spans_path = os.path.join(b.work, "results", f"spans-{b.workload}-s{b.seed}.json")
    tr.dump(spans_path)
    _print_table(m, per_epoch, unattributed)
    units = {n: u for n, u, _ in PER_LAYER}
    metrics = {n: (float(m.get(n, 0.0)), units[n]) for n, _, _ in PER_LAYER}
    detail = {"setup_s": t_setup, "untraced_s": untraced_s, "traced_s": traced_s,
              "per_epoch": per_epoch, "unattributed_s": unattributed,
              "epochs_s": epochs_s, "spans": os.path.relpath(spans_path, b.root),
              "output_digests": {"crawl_log": counts["digest"], **digests},
              "known_defects": known_defects,
              "crawl": {k: counts[k] for k in ("rows", "attempts", "fetched", "fetch_errors")}}
    shutil.rmtree(os.path.join(b.run_dir, "trace_ckpt"), ignore_errors=True)
    return metrics, detail


def _print_table(m: dict, per_epoch: list[dict], unattributed: list[float]) -> None:
    print(f"{'per-layer metric':60s} {'value':>14s}")
    for name, unit, _ in PER_LAYER:
        print(f"{name:60s} {m.get(name, 0.0):14.4f} {unit}")
    for i, (p, u) in enumerate(zip(per_epoch, unattributed)):
        print(f"epoch {i}: jobs {p['jobs']} stages {p['stages']} tasks {p['tasks']} "
              f"unattributed {u:.3f} s")
    print(f"tracing overhead: traced / untraced wall = {m['trace.overhead_ratio']:.3f}")
