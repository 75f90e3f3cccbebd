"""Accounting for the MLOps-loop benchmark: turns the raw record the
benchmark JVM writes into the metrics run.py prints.

Percentiles are nearest-rank. A tail is reported at the highest of
p99.9 / p99 / p90 / p50 that still has at least ten samples beyond it.
Open-loop latency is timed from each request's due time, not from when
the generator got round to sending it, so a stall is charged to every
request it delays; the generator's own lateness (sent - due) is
reported separately as a validity check.
"""
import math

TAIL_QUANTILES = (99.9, 99.0, 90.0, 50.0)
MIN_BEYOND = 10


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def rank(n, q):
    """1-based nearest rank of the q-th percentile of n samples (rounded
    before the ceiling so that 99.9 % of 10000 is 9990, not 9991)."""
    return max(1, math.ceil(round(q * n / 100.0, 9)))


def quantile(xs, q):
    """Nearest-rank q-th percentile (0 < q <= 100)."""
    xs = sorted(xs)
    if not xs:
        raise ValueError("quantile of no samples")
    return xs[rank(len(xs), q) - 1]


def beyond(n, q):
    """Samples ranked above the nearest-rank q-th percentile."""
    return n - rank(n, q)


def tail_quantile(n):
    """Highest reportable tail percentile for n samples."""
    for q in TAIL_QUANTILES:
        if beyond(n, q) >= MIN_BEYOND:
            return q
    raise ValueError(f"{n} samples cannot support a tail with "
                     f"{MIN_BEYOND} samples beyond it")


def late_half(xs):
    """The last half of a series (the larger half when odd)."""
    return xs[len(xs) // 2:]


def open_loop(rows):
    """Latency and generator lateness in ms from (due, sent, done, ok)
    rows in ns. Latency is done - due; lateness is sent - due."""
    lat = [(done - due) / 1e6 for due, sent, done, _ in rows]
    late = [max(0, sent - due) / 1e6 for due, sent, done, _ in rows]
    return lat, late


def steady(s, name):
    """Series `name` over the operations after the warm-up (the cold
    first operation and any the workload marks as warm-up)."""
    return [x for x, w in zip(s[name], s["op_warmup"]) if not w]


def end_to_end(raw):
    """The end-to-end metrics of one run, by name.

    latency_ms is the median of the workload's operations after the
    warm-up (serve_predict: of its open-loop requests after a warm-up
    phase); mem_peak_mb is the JVM's peak resident set."""
    out = {"setup_s": median(raw["setup_s"]),
           "mem_peak_mb": raw["values"]["jvm.mem_peak_mb"]}
    if raw["workload"] == "serve_predict":
        lat, _ = open_loop(raw["open_loop"])
        out["latency_ms"] = quantile(lat, 50)
    else:
        out["latency_ms"] = median(steady(raw["series"], "op_ms"))
    return out


def cold_and_tail(raw):
    """The first operation in the fresh JVM, the median of the late half
    of the steady operations, and the tail of the open-loop latency
    (serve_predict)."""
    s = raw["series"]
    if raw["workload"] == "serve_predict":
        lat, _ = open_loop(raw["open_loop"])
        return {"op.first_ms": median(s["cold_ms"]),
                "op.late_ms": median(late_half(lat)),
                "serving.predict_tail_ms":
                    quantile(lat, tail_quantile(len(lat)))}
    return {"op.first_ms": s["op_ms"][0],
            "op.late_ms": median(late_half(steady(s, "op_ms")))}


def tracing_overhead(raw):
    """Traced against untraced operations of the same traced run, as a
    fraction of the untraced median."""
    s = raw["series"]
    if raw["workload"] == "serve_predict":
        lat, _ = open_loop(raw["open_loop"])
        return median(s["traced_latency_ms"]) / quantile(lat, 50) - 1.0
    ops = list(zip(s["op_ms"], s["op_traced"], s["op_warmup"]))[1:]
    # compare steady operations where both kinds have some
    if len({t for _, t, w in ops if not w}) == 2:
        ops = [o for o in ops if not o[2]]
    on = [ms for ms, t, _ in ops if t]
    off = [ms for ms, t, _ in ops if not t]
    return median(on) / median(off) - 1.0


def per_layer(raw, names):
    """The per-layer metrics of one traced run, by name; a layer the
    workload never calls reads 0."""
    s, v = raw["series"], raw["values"]
    got = {k: median(xs) for k, xs in s.items()}
    got.update(v)
    got.update(cold_and_tail(raw))
    if "streaming.retrain_s" in s:
        got["streaming.retrain_late_s"] = median(
            late_half(s["streaming.retrain_s"]))
    if raw["workload"] == "serve_predict":
        _, late = open_loop(raw["open_loop"])
        got["serving.late_ms"] = quantile(late, tail_quantile(len(late)))
    got["trace.overhead_frac"] = tracing_overhead(raw)
    ops = max(1, raw["traced_ops"])
    for call, counters in raw["counters"].items():
        for c, total in counters.items():
            got[f"{call}.{c}"] = total / ops
    return {n: float(got.get(n, 0.0)) for n in names}


def result(raw, trace, spec):
    """The benchmark's last output line for one run."""
    checks_ok = all(c["ok"] for c in raw["checks"])
    group = spec["per_layer"] if trace else spec["end_to_end"]
    names = [m["name"] for m in group]
    values = per_layer(raw, names) if trace else end_to_end(raw)
    return {"correct": bool(checks_ok and raw["failed"] == 0
                            and raw["attempted"] >= 1),
            "attempted": int(raw["attempted"]),
            "failed": int(raw["failed"]),
            "metrics": {m["name"]: {"value": values[m["name"]],
                                    "unit": m["unit"]} for m in group}}
