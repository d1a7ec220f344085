"""Product-path benchmark: the ``crawl``, ``index`` and ``cdx`` jobs of
``webarchive_discovery_spark.cli``, end to end, on seeded inputs.

    python3 perfbench/run.py --workload crawl_breadth --seed 1 --seconds 30 --trace 0

Run from the repository root.  One client in one process submits one batch
job at a time (a closed loop) to a ``local[nproc]`` session.  Every workload
runs the same product path — a checkpointed multi-epoch ``crawl``, a
``crawl --resume`` of its final epoch, then ``index --links`` and ``cdx``
over a WARC corpus, repeated while ``--seconds`` allow — sized so that a
different layer carries the load (see ``WORKLOADS`` and
``perfbench/NOTES.md``).  The outputs are checked against the generator's
ground truth; a failed check or job makes the exit code non-zero.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the path
once untraced, then walks the layers one span at a time (``layers.py``) and
prints the per-layer metrics.  The last stdout line is the JSON result; the
full record (environment stamp, input digests, output digests, counts) is
the line before it and is also written under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from tracing import percentile  # noqa: E402

# index + cdx repetitions measured at least, after one that pays the
# process's JIT and codegen warm-up for them and is left out of the medians
ARCHIVE_REPS = 2

# Sizes: crawl world pages, seed count, host budget, epochs, recrawl window,
# and WARC corpus records.
WORKLOADS = {
    "crawl_breadth": dict(world=8000, seeds=2000, budget=1000, epochs=3,
                          recrawl=None, warc=4000),
    "crawl_recrawl": dict(world=4000, seeds=1000, budget=20, epochs=3,
                          recrawl=1, warc=2500),
}


def descendants() -> dict[int, str]:
    """Every live process below this one, as pid -> start time (field 22 of
    ``/proc/<pid>/stat``, which tells a pid apart from a later reuse)."""
    children: dict[int, list[int]] = {}
    start: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] == "Z":  # ended; only its exit status is left
            continue
        children.setdefault(int(fields[1]), []).append(int(d))
        start[int(d)] = fields[19]
    found, todo = {}, list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        found[pid] = start[pid]
        todo.extend(children.get(pid, []))
    return found


def alive(pid: int, started: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return False
    if fields[0] == "Z":
        with contextlib.suppress(ChildProcessError):
            os.waitpid(pid, os.WNOHANG)  # reap it if it is our own child
        return False
    return fields[19] == started


def stop_spark(spark) -> None:
    """Stop the session, the driver JVM and every Python worker, and wait
    until each process this one started has ended.  The JVM exits when the
    pipe on its stdin closes; the Python worker daemon exits when the JVM's
    end of its own stdin closes.  Whatever is still running after 30 s is
    killed."""
    from pyspark import SparkContext

    procs = descendants()
    if spark is not None:
        with contextlib.suppress(Exception):
            spark.stop()
    procs.update(descendants())
    gateway = SparkContext._gateway
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(OSError):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while True:
        procs = {p: s for p, s in procs.items() if alive(p, s)}
        procs.update(descendants())
        if not procs:
            return
        if time.monotonic() > deadline:
            for pid in procs:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


class MemorySampler(threading.Thread):
    """Peak resident memory summed over this process and all its descendants
    (the driver JVM and the Python workers), sampled every 200 ms.  Each
    process counts its proportional set size (PSS): pages shared between
    processes, such as those of Python workers forked from one daemon, are
    split among them instead of counted once per process."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    @staticmethod
    def tree_pss() -> int:
        total = 0
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass  # the process ended between the two reads
        return total

    def run(self):
        while not self._halt.wait(0.2):
            self.peak = max(self.peak, self.tree_pss())

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 2**20


def environment(b) -> dict:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    try:  # the checkout may not be a git repository; never look above it
        git = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, cwd=b.root,
            env=dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(b.root)),
        ).stdout.strip()
    except OSError:
        git = ""
    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": b.inherited_cpus,
        "pyspark": pyspark.__version__,
        "java": (java.stderr.splitlines() or [""])[0],
        "python": sys.version.split()[0],
        "git_commit": git or None,
        "loadavg_before": os.getloadavg(),
    }


class Bench:
    def __init__(self, root: str, workload: str, seed: int):
        self.root = root
        self.spec = WORKLOADS[workload]
        self.workload = workload
        self.seed = seed
        self.work = os.path.join(root, ".perfbench")
        self.run_dir = os.path.join(self.work, f"run-{os.getpid()}")
        # inputs are cached by (seed, size) and by the generator's own source
        self.cache = os.path.join(self.work, "inputs", gen.version())
        self.nproc = os.cpu_count() or 1
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.inherited_cpus = os.environ.get("SPARK_GRAFT_CPUS")

    # -- inputs and session --------------------------------------------------

    def make_inputs(self) -> dict:
        s = self.spec
        self.seeds = gen.gen_seeds(self.cache, self.seed, s["world"], s["seeds"])
        self.world = gen.world_dir(self.cache, self.seed, s["world"])
        self.corpus = gen.gen_corpus(self.cache, self.seed, s["warc"])
        self.warcs = os.path.join(self.corpus, "warcs")
        with open(os.path.join(self.corpus, "truth.json")) as f:
            self.truth = json.load(f)
        digests = {f"world/{name}": gen.file_sha256(os.path.join(self.world, name))
                   for name in ("records.parquet", "link_graph.parquet", "robots.parquet")}
        digests[f"world/{os.path.basename(self.seeds)}"] = gen.file_sha256(self.seeds)
        digests.update({f"corpus/{k}": v for k, v in gen.input_digests(self.warcs).items()})
        return digests

    def configure_env(self, trace: bool) -> None:
        for sub in ("tmp", "local", "staging", "events"):
            os.makedirs(os.path.join(self.run_dir, sub), exist_ok=True)
        # the jobs' own get_spark() calls read SPARK_GRAFT_CPUS for their
        # shuffle width; pin it to the session's core count
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "local")
        os.environ["TMPDIR"] = os.path.join(self.run_dir, "tmp")
        # JVMs (the spark-submit launcher too) keep a perf-data file in /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        self.trace = trace

    def session(self):
        from webarchive_discovery_spark.session import get_spark

        tmp = os.path.join(self.run_dir, "tmp")
        conf = {
            "spark.wds.staging.dir": os.path.join(self.run_dir, "staging"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": os.path.join(self.run_dir, "events"),
            })
        return get_spark("perfbench", master=f"local[{self.nproc}]",
                         shuffle_partitions=self.nproc, extra_conf=conf)

    def stop(self) -> None:
        stop_spark(self.spark)
        self.spark = None

    def setup_once(self) -> float:
        """JVM + get_spark + input registration + warm-up (the Python
        workers start and the canonicalization kernel runs once)."""
        from pyspark.sql import functions as F

        from webarchive_discovery_spark.operators.frontier import canonicalize_frontier

        t0 = time.perf_counter()
        self.spark = self.session()
        self.get_spark_window = (t0, time.perf_counter())
        sp = self.spark
        for name in ("records", "link_graph", "robots"):
            sp.read.parquet(os.path.join(self.world, f"{name}.parquet")).schema
        seeds = sp.read.parquet(self.seeds)
        canonicalize_frontier(seeds.limit(64), "url").agg(F.count("url_hash")).collect()
        sp.read.format("binaryFile").load(self.warcs).select("path").collect()
        return time.perf_counter() - t0

    # -- jobs -------------------------------------------------------------------

    def job(self, argv: list[str]) -> tuple[float, list[dict]]:
        """Run one cli job in-process; returns (seconds, JSON lines it printed)."""
        from webarchive_discovery_spark import cli

        buf = io.StringIO()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(buf):
                rc = cli.main(argv)
        except Exception as exc:  # a job that raises counts as all-failed
            rc = repr(exc)[:300]
        dt = time.perf_counter() - t0
        if rc != 0:
            self.failed += 1
            self.failures.append(f"{argv[0]} failed: {rc}")
        lines = []
        for line in buf.getvalue().splitlines():
            try:
                lines.append(json.loads(line))
            except ValueError:
                pass
        return dt, lines

    def crawl_argv(self, ckpt: str, epochs: int, resume: bool = False) -> list[str]:
        s = self.spec
        argv = ["crawl", "--records", os.path.join(self.world, "records.parquet"),
                "--seeds", self.seeds,
                "--link-graph", os.path.join(self.world, "link_graph.parquet"),
                "--robots", os.path.join(self.world, "robots.parquet"),
                "--epochs", str(epochs), "--host-budget", str(s["budget"]),
                "--checkpoint-dir", ckpt]
        if s["recrawl"]:
            argv += ["--recrawl-epochs", str(s["recrawl"])]
        if resume:
            argv.append("--resume")
        return argv

    def crawl_path(self, rep_dir: str) -> dict:
        """crawl of all epochs but the last, then crawl --resume, which reads
        the store and runs the final epoch; both timed."""
        last = self.spec["epochs"] - 1
        ckpt = os.path.join(rep_dir, "ckpt")
        t_start = time.time()
        crawl_s, lines = self.job(self.crawl_argv(ckpt, last))
        commits = [os.path.getmtime(os.path.join(ckpt, f"epoch={e:05d}", "manifest.json"))
                   for e in range(last)
                   if os.path.exists(os.path.join(ckpt, f"epoch={e:05d}", "manifest.json"))]
        resume_s, resumed_lines = self.job(self.crawl_argv(ckpt, last + 1, resume=True))
        return {"crawl_s": crawl_s, "resume_s": resume_s, "resume_end": time.time(),
                "epochs_s": [b - a for a, b in zip([t_start] + commits, commits)],
                "epoch_bounds": [t_start] + commits,
                "crawl_rows": sum(sum(m["statuses"].values()) for m in lines
                                  if "statuses" in m),
                "metric_lines": lines + resumed_lines, "ckpt": ckpt}

    def check_resume(self, rep: dict, rep_dir: str) -> None:
        """Crawl every epoch in one job; its final epoch must equal the
        resumed one bit for bit."""
        last = self.spec["epochs"] - 1
        ckpt = os.path.join(rep_dir, "ckpt_uninterrupted")
        self.job(self.crawl_argv(ckpt, last + 1))
        self.failures += checks.check_resume(
            os.path.join(ckpt, f"epoch={last:05d}"),
            os.path.join(rep["ckpt"], f"epoch={last:05d}"))

    def archive_path(self, rep_dir: str) -> dict:
        """index --links, then cdx, over the WARC corpus; timed."""
        index_out = os.path.join(rep_dir, "index")
        index_s, _ = self.job(["index", "-i", self.warcs, "-o", index_out, "--links"])
        cdx_out = os.path.join(rep_dir, "cdx")
        cdx_s, _ = self.job(["cdx", "-i", self.warcs, "-o", cdx_out])
        return {"index_s": index_s, "cdx_s": cdx_s,
                "index_out": index_out, "cdx_out": cdx_out}

    # -- checks -------------------------------------------------------------------

    def check_crawl(self, rep: dict) -> dict:
        s = self.spec
        bad, counts = checks.check_crawl(
            self.world, self.seeds, rep["ckpt"], s["epochs"],
            s["budget"], s["recrawl"], rep["metric_lines"])
        self.failures += bad
        counts["digest"] = checks.table_digest(
            checks.read_crawl_log(rep["ckpt"], s["epochs"]), ["epoch", "url_hash"])
        return counts

    def check_archive(self, rep: dict) -> dict:
        """Failures go to ``self.failures``; returns the output digests."""
        self.failures += checks.check_index(rep["index_out"], self.truth)
        parts = checks.read_cdx(rep["cdx_out"])
        self.failures += checks.check_cdx(parts, self.truth)
        index = checks.read_parquet_dir(rep["index_out"])
        return {
            "index": checks.table_digest(index.select(["url", "links", "status_code"]),
                                         ["url"]),
            "cdx": checks.lines_digest([x for p in parts for x in p], strip=self.warcs),
        }

    def known_defects(self) -> dict[str, str]:
        """Probes of known program defects that make a job fail.  No
        workload plants their inputs, since a failed job ends the run;
        instead each probe runs here on its own input and is reported by
        name, "reproduced" or "fixed", in the result record and on
        stderr."""
        from webarchive_discovery_spark.plans.crawl import _fetch_simulate

        # a fetched PNG whose header width exceeds 2^31 - 1: the fetch
        # kernel's IntegerType header_w cannot hold it and the crawl job dies
        probe = self.spark.createDataFrame(
            [("img-probe", bytearray(gen.oversized_header_png()), "png", "probe", 0, 16, 16)],
            "image_id string, bytes binary, fmt string, caption string, phash long, "
            "w int, h int")
        try:
            rows = _fetch_simulate(probe).collect()
            status = "fixed" if [r["fetch_ok"] for r in rows] == [False] else "changed"
        except Exception:
            status = "reproduced"
        found = {"plans.crawl._fetch_simulate.header_w_int32_overflow": status}
        for name, st in found.items():
            print(f"known defect {name}: {st}", file=sys.stderr)
        return found

    def parse_errors(self) -> list[tuple[str, int]]:
        """(file, offset) of every record the archive reader flags."""
        from pyspark.sql import functions as F

        from webarchive_discovery_spark.sources.warc import read_binary_files, warc_records

        recs = warc_records(read_binary_files(self.spark, self.warcs))
        return [(r[0], r[1]) for r in recs.filter(F.col("parse_error").isNotNull())
                .select("source_file", "record_offset").collect()]


def measure(b: Bench, seconds: float) -> tuple[dict, dict]:
    setup_s = b.setup_once()
    sampler = MemorySampler()
    sampler.start()
    t0 = time.perf_counter()
    crawl = b.crawl_path(os.path.join(b.run_dir, "crawl"))
    # the archive jobs take a few seconds each: repeat them, ARCHIVE_REPS
    # times after the first and more while another repetition fits
    archive = []
    while not b.failed:
        archive.append(b.archive_path(os.path.join(b.run_dir, f"archive{len(archive)}")))
        elapsed = time.perf_counter() - t0
        per_rep = (elapsed - crawl["crawl_s"] - crawl["resume_s"]) / len(archive)
        if len(archive) > ARCHIVE_REPS and elapsed + per_rep > seconds:
            break
    measured_s = time.perf_counter() - t0
    peak_mb = sampler.stop()
    if b.failed:
        return {}, {"measured_s": measured_s}

    t_check = time.perf_counter()
    c = b.check_crawl(crawl)
    digests = [b.check_archive(a) for a in archive]
    if any(d != digests[0] for d in digests):
        b.failures.append("repeated index/cdx jobs produced different outputs")
    found = b.parse_errors()
    b.failures += checks.check_parse_errors(found, b.truth)
    known_defects = b.known_defects()
    records = b.truth["records"]
    failed_ops = c["fetch_errors"] + len(found)
    attempted_ops = c["attempts"] + records
    metrics = {
        "setup_s": (setup_s, "s"),
        "crawl_urls_per_s": (crawl["crawl_rows"] / crawl["crawl_s"], "URLs/s"),
        "epoch_s_p50": (percentile(crawl["epochs_s"], 50), "s"),
        "resume_s": (crawl["resume_s"], "s"),
        "index_records_per_s": (records / percentile([a["index_s"] for a in archive[1:]], 50),
                                "records/s"),
        "cdx_records_per_s": (records / percentile([a["cdx_s"] for a in archive[1:]], 50),
                              "records/s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "failed_ratio": (failed_ops / attempted_ops, "ratio"),
    }
    detail = {
        "setup_s": setup_s, "measured_s": measured_s,
        "check_s": time.perf_counter() - t_check,
        "crawl_s": crawl["crawl_s"], "resume_s": crawl["resume_s"],
        "epochs_s": crawl["epochs_s"],
        "index_s": [a["index_s"] for a in archive], "cdx_s": [a["cdx_s"] for a in archive],
        "crawl": {k: c[k] for k in ("rows", "attempts", "fetched", "fetch_errors")},
        "index": {"records_read": records, "parse_errors": len(found)},
        "failed_ratio_counts": {"failed": failed_ops, "attempted": attempted_ops},
        "output_digests": {"crawl_log": c["digest"], **digests[0]},
        "known_defects": known_defects,
    }
    return metrics, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="product-path benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_main = time.perf_counter()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "webarchive_discovery_spark", "cli.py")):
        print("run from the repository root: webarchive_discovery_spark/ not found",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    # a SIGTERM unwinds through the finally below, which ends every process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    b = Bench(root, args.workload, args.seed)
    b.configure_env(bool(args.trace))
    env = environment(b)
    try:
        inputs = b.make_inputs()
        if args.trace:
            import layers

            metrics, detail = layers.traced(b, args.seconds)
        else:
            metrics, detail = measure(b, args.seconds)
    finally:
        b.stop()
        shutil.rmtree(b.run_dir, ignore_errors=True)
    env["loadavg_after"] = os.getloadavg()
    detail["main_s"] = time.perf_counter() - t_main
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "seconds": args.seconds, "env": env, "input_sha256": inputs,
              "failures": b.failures, **detail}
    os.makedirs(os.path.join(b.work, "results"), exist_ok=True)
    with open(os.path.join(b.work, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({**record, "metrics": metrics}, f, indent=1, default=str)
    print(json.dumps(record, default=str))
    result = {
        "correct": not b.failures and b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
