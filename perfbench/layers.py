"""Per-layer view of a traced run.

``instrument`` wraps the public entry points of the engine layers the
benchmark loads, wherever a module of the engine package bound them, so
calls made by registered queries are traced as well as the benchmark's
own. ``layer_metrics`` folds the spans of the timed region (plus two
probes) into the named per-layer metrics. Untraced runs install nothing.
"""

from __future__ import annotations

import contextlib
import functools
import os
import statistics
import time

from harness import Run, Span, rebind, rss_mb
from workloads import QUERIES, Outcome, dir_bytes

KEY_IDS = ("PUBLIC", "INTERNAL", "CONFIDENTIAL", "RESTRICTED")


def instrument(run: Run) -> None:
    """Trace ``datasets.load`` and the native encrypted read/write calls."""
    from parquet_modular_encryption_spark.registry import load_all
    from parquet_modular_encryption_spark.sources import datasets
    from parquet_modular_encryption_spark.sources import encrypted_native as en

    load_all()  # bind every query module first, so their imports get wrapped
    tracer = run.tracer

    def plain(name, fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapped

    def writer(fn):
        @functools.wraps(fn)
        def wrapped(df, path, *args, **kwargs):
            with tracer.span("native.write") as sp:
                out = fn(df, path, *args, **kwargs)
            sp.attrs["bytes"] = dir_bytes(path)
            return out

        return wrapped

    def scan(open_name, fn):
        @contextlib.contextmanager
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with contextlib.ExitStack() as stack:
                with tracer.span(open_name):
                    frame = stack.enter_context(fn(*args, **kwargs))
                with tracer.span("native.scan_body"):
                    yield frame

        return wrapped

    rebind(datasets.load, plain("datasets.load", datasets.load))
    rebind(en.write_encrypted_native, writer(en.write_encrypted_native))
    rebind(en.write_encrypted_uniform_native, writer(en.write_encrypted_uniform_native))
    rebind(en.decrypting_scan, scan("native.scan_open", en.decrypting_scan))
    rebind(en.pinned_decrypting_scan, scan("native.pin", en.pinned_decrypting_scan))


def _kms_rtt_probe(run: Run, calls: int = 40) -> float:
    """Median round trip of direct ``RestKmsClient.unwrap_key`` calls."""
    from parquet_modular_encryption_spark.crypto.kms_client import RestKmsClient
    from parquet_modular_encryption_spark.crypto.kms_server import KmsServer

    server = KmsServer().start()
    client = RestKmsClient(server.url, "RESTRICTED")
    wrapped = client.wrap_key(os.urandom(16), "CONFIDENTIAL")
    times = []
    with run.tracer.span("probe.kms_unwrap"):
        for _ in range(calls):
            t = time.perf_counter()
            client.unwrap_key(wrapped, "CONFIDENTIAL")
            times.append(time.perf_counter() - t)
    return statistics.median(times)


def _load_probe(run: Run) -> tuple[float, float]:
    """Seconds and Spark jobs per ``datasets.load`` call, once per table
    present in the run's data directory."""
    from parquet_modular_encryption_spark.sources import datasets

    t0 = time.perf_counter()
    for name in datasets.TABLES:
        if os.path.exists(os.path.join(run.data_dir, f"{name}.parquet")):
            datasets.load(run.spark, run.data_dir, name)  # traced by instrument()
    loads = [s for s in run.tracer.spans if s.name == "datasets.load" and s.start >= t0]
    if not loads:
        return 0.0, 0.0
    return (
        sum(s.seconds for s in loads) / len(loads),
        sum(s.jobs for s in loads) / len(loads),
    )


def snapshot(run: Run) -> dict:
    """Cumulative KMS requests per (action, key id) over every server, and
    cumulative shuffle bytes written; taken around the timed region."""
    from parquet_modular_encryption_spark.plans.explain import cumulative_shuffle_bytes

    kms: dict = {}
    for server in run.kms_servers:
        for key, n in list(server.key_counters.items()):
            kms[key] = kms.get(key, 0) + n
    return {"shuffle_write": cumulative_shuffle_bytes(run.spark)[0], "kms": kms}


def layer_metrics(run: Run, out: Outcome, before: dict, after: dict, denied: int) -> dict:
    """Per-layer metrics of the timed region: per op (per pass on
    query_mix) unless a probe is named."""
    kms = {k: n - before["kms"].get(k, 0) for k, n in after["kms"].items()}
    tr = run.tracer
    timed = [s for s in tr.spans if out.t_start <= s.start and s.end <= out.t_end]
    children: dict[int, list[Span]] = {}
    for s in tr.spans:
        children.setdefault(s.parent, []).append(s)

    def inclusive(span: Span, attr: str) -> int:
        return getattr(span, attr) + sum(inclusive(c, attr) for c in children.get(span.id, ()))

    def total(name: str, attr: str = "seconds", incl: bool = False, query: str | None = None) -> float:
        picked = [s for s in timed if s.name == name and (query is None or s.attrs.get("query") == query)]
        if attr == "seconds":
            return sum(s.seconds for s in picked)
        return sum(inclusive(s, attr) if incl else getattr(s, attr) for s in picked)

    ops, passes = out.ops, len(out.round_walls)
    scan_spans = ("native.scan_open", "native.scan_body", "native.pin")
    session = [s for s in tr.spans if s.name == "session.start"]
    load_s, load_jobs = _load_probe(run)
    m = {
        "session.start_s": session[0].seconds if session else 0.0,
        **{
            f"kms.{action}_per_op": sum(n for k, n in kms.items() if k[0] == action) / ops
            for action in ("unwrap", "wrap")
        },
        **{
            f"kms.requests_by_key.{action}.{key}": kms.get((action, key), 0) / ops
            for action in ("wrap", "unwrap")
            for key in KEY_IDS
        },
        "kms.unwrap_rtt_p50_s": _kms_rtt_probe(run),
        "kms.denied": denied,
        "native.scan_open_s": total("native.scan_open") / ops,
        "native.scan_action_s": total("native.scan_body") / ops,
        "native.scan_jobs_per_op": sum(total(n, "jobs") for n in scan_spans) / ops,
        "native.scan_tasks_per_op": sum(total(n, "tasks") for n in scan_spans) / ops,
        "native.pin_s": total("native.pin") / ops,
        "native.write_s": total("native.write") / ops,
        "native.write_jobs_per_op": total("native.write", "jobs") / ops,
        "native.write_bytes_per_op": sum(
            s.attrs.get("bytes", 0) for s in timed if s.name == "native.write"
        ) / ops,
        "datasets.load_s": load_s,
        "datasets.load_jobs": load_jobs,
        "registry.builder_s": total("registry.builder") / passes,
        "registry.action_s": total("registry.action") / passes,
        "registry.builder_jobs": total("registry.builder", "jobs", incl=True) / passes,
        "registry.action_jobs": total("registry.action", "jobs", incl=True) / passes,
    }
    for q in QUERIES:
        m[f"q.{q}.builder_s"] = total("registry.builder", query=q) / passes
        m[f"q.{q}.action_s"] = total("registry.action", query=q) / passes
        m[f"q.{q}.builder_jobs"] = total("registry.builder", "jobs", incl=True, query=q) / passes
    m["spark.shuffle_write_bytes_per_op"] = (after["shuffle_write"] - before["shuffle_write"]) / ops
    m["spark.tasks_per_op"] = sum(s.tasks for s in timed) / ops
    m["mem.driver_rss_mb"] = rss_mb(os.getpid())
    m["mem.jvm_rss_mb"] = rss_mb(run.jvm_pid())
    m["trace.pass_s"] = statistics.median(out.round_walls)
    m["trace.bookkeeping_s"] = tr.bookkeeping_s
    return m


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "bytes" if name.endswith("bytes_per_op") else "count"
