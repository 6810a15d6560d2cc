"""The benchmark's workloads.

Each workload drives the package only through its public surface
(``QUERIES[name](spark, dir)``, ``EventBroker`` and the broker's
``store``/``dlq``), times every call from outside, and keeps what it
needs to check the outputs afterwards, off the clock.

A workload object lives for one run.  ``warmup`` runs once per set-up,
``timed_pass`` repeatedly while the run measures, ``check`` once at the
end, and ``layers`` turns the traced run's records into per-layer
metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from collections import defaultdict

import numpy as np

import gen
from meters import MB, forks, median, tail

SPARK_CORES = min(4, os.cpu_count() or 1)


class Stats:
    """Operations attempted and failed, and wrong outputs seen."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []
        self.errors: list[str] = []

    def fail(self, what: str, wrong: bool = False) -> None:
        self.failed += 1
        (self.wrong if wrong else self.errors).append(what)


class Call:
    """Runs one timed call, and in a traced run wraps it in a span with
    py4j and status-store counts.  Counts are read after the clock stops."""

    def __init__(self, tracer):
        self.tr = tracer

    def timed(self, name: str, fn, *args, **kwargs):
        """Returns ``(result, seconds, counts)``; counts is {} untraced."""
        tr = self.tr
        with tr.span(name) as counts:
            n0 = tr.py4j.calls
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            dt = time.perf_counter() - t0
            if tr.enabled:
                counts["py4j_calls"] = tr.py4j.calls - n0
                counts["s"] = dt
                counts.update(tr.status.since())
        return out, dt, counts


def _stream_layers(batches: list[dict], passes: int) -> dict:
    """Per-layer streaming metrics from listener records of the timed phase."""
    def dur(key):
        return median(b["durations"].get(key, 0.0) for b in batches)

    last_state: dict[str, tuple[int, int]] = {}
    for b in batches:
        last_state[b["query"]] = (b["state_rows"], b["state_bytes"])
    per = max(1, passes)
    return {
        "stream.batches": len(batches) / per,
        "stream.input_rows": sum(b["input_rows"] for b in batches) / per,
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.planning_ms": dur("queryPlanning"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.state_rows": float(sum(r for r, _ in last_state.values())),
        "stream.state_mb": sum(b for _, b in last_state.values()) / MB,
        "stream.state_commit_ms": sum(b["state_commit_ms"] for b in batches) / per,
    }


# -- catalog workloads -------------------------------------------------------


class CatalogWorkload:
    """Catalog queries over seeded tables: each call is the builder
    ``QUERIES[name](spark, dir)`` followed by a full ``count()``."""

    def __init__(self, name: str, queries: list[str], *, events: int, customers: int):
        self.name = name
        self.queries = list(queries)
        self.events = events
        self.customers = customers

    # set-up ---------------------------------------------------------------

    def prepare(self, seed: int, cache_root: str) -> None:
        """Generate (or reuse) the inputs; not part of set-up time."""
        from env_event_stream_spark.catalog import ORACLES, QUERIES

        self.fns = QUERIES
        self.oracles = ORACLES
        self.dir = gen.cached_tables(
            cache_root, seed, events=self.events, customers=self.customers
        )
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.dir
        order = np.random.default_rng([seed, 1]).permutation(len(self.queries))
        self.order = [self.queries[i] for i in order]
        self.outputs: dict = {}
        self.counts: dict[str, list[int]] = defaultdict(list)
        self.samples: dict[str, list[dict]] = defaultdict(list)
        self.batches: list[dict] = []
        self.forks: list[int] = []
        self.passes = 0

    def start(self, spark, tracer, stats: Stats) -> None:
        self.spark, self.call, self.stats = spark, Call(tracer), stats

    def warmup(self) -> None:
        """One untimed pass; its collected outputs are what ``check`` compares."""
        for q in self.order:
            self.stats.attempted += 1
            try:
                self.outputs[q] = self.fns[q](self.spark, self.dir).toPandas()
            except Exception as exc:  # a raised query is a failed operation
                self.outputs.pop(q, None)
                self.stats.fail(f"{q} warm-up raised {type(exc).__name__}: {exc}"[:300])

    def stop(self) -> None:
        pass

    # timed ----------------------------------------------------------------

    def timed_pass(self) -> None:
        tr = self.call.tr
        if tr.enabled:
            tr.listener.take()
            forks0 = forks()
        for q in self.order:
            self.stats.attempted += 1
            with tr.span(q):
                try:
                    df, build_s, build = self.call.timed("build", self.fns[q], self.spark, self.dir)
                    plan = {}
                    if tr.enabled:
                        _, _, plan = self.call.timed(
                            "plan", lambda: df._jdf.queryExecution().executedPlan()
                        )
                    n, exec_s, ex = self.call.timed("execute", df.count)
                except Exception as exc:
                    self.stats.fail(f"{q} raised {type(exc).__name__}: {exc}"[:300])
                    continue
            self.counts[q].append(n)
            self.samples[q].append(dict(wall=build_s + exec_s, build=build, plan=plan, exec=ex))
        if tr.enabled:
            self.batches.extend(tr.listener.take())
            self.forks.append(forks() - forks0)
        self.passes += 1

    # results --------------------------------------------------------------

    def batch_s(self) -> float:
        return sum(median(s["wall"] for s in self.samples[q]) for q in self.queries)

    def check(self) -> None:
        """Each query's warm-up output against its DuckDB oracle, and
        every timed ``count()`` against the oracle's row count."""
        import checks
        import duckdb

        con = checks.oracle_connection(self.dir)
        for q in self.queries:
            sql = self.oracles.get(q)
            sql = sql() if callable(sql) else sql
            self.stats.attempted += 1
            if sql is None:
                self.stats.fail(f"{q}: no oracle", wrong=True)
                continue
            try:
                expected = con.execute(sql).df()
            except duckdb.Error as exc:
                self.stats.fail(f"{q}: oracle raised {exc}"[:300], wrong=True)
                continue
            if q in self.outputs:
                why = checks.compare(self.outputs[q], expected)
                if why:
                    self.stats.fail(f"{q}: {why}", wrong=True)
            for n in self.counts[q]:
                self.stats.attempted += 1
                if n != len(expected):
                    self.stats.fail(f"{q}: count {n} != oracle rows {len(expected)}", wrong=True)
        con.close()

    def layers(self) -> dict:
        def per_pass(part: str, key: str) -> float:
            return sum(
                median(s[part].get(key, 0.0) for s in self.samples[q]) for q in self.queries
            )

        exec_s = per_pass("exec", "s")
        stages = per_pass("exec", "stages")
        out = {
            "build.s": per_pass("build", "s"),
            "build.py4j_calls": per_pass("build", "py4j_calls"),
            "build.jobs": per_pass("build", "jobs"),
            "build.stages": per_pass("build", "stages"),
            "plan.s": per_pass("plan", "s"),
            "exec.s": exec_s,
            "exec.stages": stages,
            "exec.tasks": per_pass("exec", "tasks"),
            "exec.tasks_per_stage": per_pass("exec", "tasks") / stages if stages else 0.0,
            "exec.executor_run_s": per_pass("exec", "executor_run_s"),
            "exec.slot_busy_frac": (
                per_pass("exec", "executor_run_s") / (exec_s * SPARK_CORES) if exec_s else 0.0
            ),
            "exec.shuffle_read_mb": per_pass("exec", "shuffle_read_mb"),
            "exec.shuffle_write_mb": per_pass("exec", "shuffle_write_mb"),
            "exec.spill_mb": per_pass("exec", "spill_mb"),
            "exec.failed_tasks": per_pass("exec", "failed_tasks"),
            "proc.forks": median(self.forks),
        }
        out.update(_stream_layers(self.batches, self.passes))
        return out

    def report(self) -> list[str]:
        return [
            f"  {q}: median {median(s['wall'] for s in self.samples[q]):.3f} s over "
            f"{len(self.samples[q])} calls ("
            + " ".join(f"{s['wall']:.3f}" for s in self.samples[q]) + ")"
            for q in self.queries
        ]


# -- broker workload ---------------------------------------------------------

ORDER_TYPES = ["created", "paid", "shipped", "cancelled"]
AUDIT_TYPES = ["paid", "shipped"]
SIGNUP_SCHEMA = {
    "type": "object",
    "required": ["userId", "username", "email"],
    "properties": {
        "userId": {"type": "string"},
        "username": {"type": "string"},
        "email": {"type": "string"},
    },
}


def broker_plan(seed: int, rounds: int, *, orders: int, clicks: int, alerts: int,
                signups: int, fail_share: float, invalid_share: float) -> list[dict]:
    """The publishing plan, a pure function of the seed: per round, the
    events of each topic (type and payload without the time stamp) and
    the single schema-checked publishes with their intended validity.

    Every round carries the same number of failing orders and invalid
    sign-ups; the seed picks which ones, the types and the amounts."""
    rng = np.random.default_rng([seed, 2])
    plan, seq = [], defaultdict(int)

    def batch(topic: str, n: int, types: list[str], fail: float = 0.0):
        failing = set(rng.choice(n, round(fail * n), replace=False).tolist())
        out = []
        for i in range(n):
            seq[topic] += 1
            payload = {"seq": seq[topic], "amount": round(float(rng.exponential(50.0)), 2)}
            if i in failing:
                payload["fail"] = True
            out.append((types[int(rng.integers(0, len(types)))], payload, {"src": "perfbench"}))
        return out

    for _ in range(rounds):
        invalid = set(rng.choice(signups, round(invalid_share * signups), replace=False).tolist())
        singles = []
        for i in range(signups):
            seq["signups"] += 1
            uid = f"u{seq['signups']}"
            payload = {"userId": uid, "username": f"user{uid}", "email": f"{uid}@example.com"}
            if i in invalid:
                del payload["email"]
            singles.append((payload, i not in invalid))
        plan.append(dict(
            orders=batch("orders", orders, ORDER_TYPES, fail_share),
            clicks=batch("clicks", clicks, ["click", "view"]),
            alerts=batch("alerts", alerts, ["warn", "page"]),
            signups=singles,
            replay_type=ORDER_TYPES[int(rng.integers(0, len(ORDER_TYPES)))],
            replay_limit=int(rng.integers(20, 60)),
        ))
    return plan


def _now():
    import datetime as dt

    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


def _size(v) -> int:
    return v if isinstance(v, int) else len(v)


def _dir_stats(path: str) -> tuple[int, float]:
    files, size = 0, 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size / MB


class BrokerWorkload:
    """A parquet-backed ``EventBroker`` in a closed loop with one client.

    Per round the client publishes a batch to each of three topics with
    ``publish_many``, makes single schema-checked ``publish`` calls (an
    intended share of them invalid), then replays a time range, redrives
    one dead letter and applies count-capped retention.  Subscribers: a
    type-filtered direct subscriber, a direct subscriber that fails on a
    stated share of events (``retry_delay=0``, so failures go straight
    to the DLQ), a live streaming subscription started before its
    topic's first write, and one started after its topic has data."""

    name = "broker_pubsub"
    ROUND = dict(orders=100, clicks=50, alerts=50, signups=2,
                 fail_share=0.02, invalid_share=0.5)
    MAX_EVENTS = 1
    DELIVERY_WAIT_S = 20.0

    def prepare(self, seed: int, cache_root: str) -> None:
        self.plan = broker_plan(seed, 200, **self.ROUND)
        self.root = os.path.join(cache_root, os.pardir, "broker")
        self.setup_no = 0
        self.passes = 0
        self.batches: list[dict] = []
        self.forks: list[int] = []

    def start(self, spark, tracer, stats: Stats) -> None:
        from env_event_stream_spark.schema_registry import SchemaRegistry
        from env_event_stream_spark.streaming.broker import (
            EventBroker,
            SubscriptionOptions,
        )

        self.spark, self.call, self.stats = spark, Call(tracer), stats
        self.setup_no += 1
        path = os.path.abspath(os.path.join(self.root, f"setup{self.setup_no}"))
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        self.path = path
        b = self.broker = EventBroker(spark, os.path.join(path, "data"))
        reg = SchemaRegistry()
        reg.register("user.created", SIGNUP_SCHEMA)
        b.create_topic("signups", registry=reg, max_events=self.MAX_EVENTS)
        for t in ("orders", "clicks", "alerts"):
            b.create_topic(t)
        self.round = 0
        self.lock = threading.Lock()
        self.audit_seen: list[int] = []
        self.billing_ok: list[int] = []
        self.billing_redriven: list[int] = []
        self.billing_dead: list[str] = []  # event ids, in dead-letter order
        self.healed: set[str] = set()
        self.redriven = 0
        self.signups_kept = 0
        # topic -> {seq: (publish stamp, delivery latency in s)}
        self.delivered: dict[str, dict[int, tuple]] = {"clicks": {}, "alerts": {}}
        self.live_since: dict[str, float] = {}
        self.ops: dict[str, list[float]] = defaultdict(list)
        self.accepted_events = 0
        self.publish_wall = 0.0
        self.rejected = 0
        self.handler = dict(calls=0, failures=0)
        b.subscribe("orders", self._audit, SubscriptionOptions(name="audit", event_types=AUDIT_TYPES))
        b.subscribe("orders", self._billing,
                    SubscriptionOptions(name="billing", max_retries=3, retry_delay=0))
        self.storage: dict[str, float] = defaultdict(float)
        if tracer.enabled:
            self._wrap_storage()
        # the usual order: subscribe, then publish -- the topic has no data yet
        self._subscribe_live("alerts")

    def _subscribe_live(self, topic: str) -> None:
        def on_batch(df, epoch_id, topic=topic):
            from pyspark.sql import functions as F

            rows = df.select(
                F.get_json_object("payload", "$.seq").cast("long").alias("seq"),
                F.get_json_object("payload", "$.t0").cast("double").alias("t0"),
            ).collect()
            now = time.time()
            with self.lock:
                seen = self.delivered[topic]
                for r in rows:
                    seen.setdefault(r.seq, (r.t0, now - r.t0))

        self.live_since[topic] = time.time()
        self.broker.subscribe_streaming(
            topic, on_batch, None, checkpoint=os.path.join(self.path, f"ckpt-{topic}"),
            trigger_once=False,
        )

    # subscribers ------------------------------------------------------------

    def _audit(self, event) -> None:
        with self.lock:
            self.handler["calls"] += 1
            self.audit_seen.append(json.loads(event.payload)["seq"])

    def _billing(self, event) -> None:
        payload = json.loads(event.payload)
        with self.lock:
            self.handler["calls"] += 1
            if not payload.get("fail"):
                self.billing_ok.append(payload["seq"])
            elif event.id in self.healed:
                self.billing_redriven.append(payload["seq"])
            else:
                self.handler["failures"] += 1
                if event.id not in self.billing_dead:
                    self.billing_dead.append(event.id)
                raise RuntimeError(f"billing rejected order {payload['seq']}")

    def _wrap_storage(self) -> None:
        """Count and time the store's and DLQ's calls from outside."""

        def wrap(obj, attr, key, size=lambda a: 1):
            fn = getattr(obj, attr)

            def wrapped(*args, **kwargs):
                t0 = time.perf_counter()
                try:
                    return fn(*args, **kwargs)
                finally:
                    self.storage[key + "_ms"] += (time.perf_counter() - t0) * 1000.0
                    self.storage[key + "_calls"] += size(args)

            setattr(obj, attr, wrapped)

        wrap(self.broker.store, "save_events", "store.save")
        wrap(self.broker.store, "get_events", "store.get")
        wrap(self.broker.store, "delete_events", "store.delete")
        wrap(self.broker.dlq, "add_events", "dlq.add", size=lambda a: len(a[0]))

    # one round ----------------------------------------------------------------

    def _publish_batch(self, topic: str, events: list) -> None:
        t0 = time.time()
        stamped = [(t, dict(p, t0=t0), m) for (t, p, m) in events]
        self.stats.attempted += 1
        try:
            n, dt, _ = self.call.timed(f"publish_many.{topic}", self.broker.publish_many,
                                       topic, stamped)
        except Exception as exc:
            self.stats.fail(f"publish_many {topic} raised {exc}"[:300])
            return
        if n != len(events):
            self.stats.fail(f"publish_many {topic} accepted {n} of {len(events)}", wrong=True)
        self.ops[f"publish_many.{topic}"].append(dt)
        self.accepted_events += n
        self.publish_wall += dt

    def _round(self) -> None:
        spec = self.plan[self.round % len(self.plan)]
        self.round += 1
        t_from = _now()
        self._publish_batch("orders", spec["orders"])
        self.round_marks.append((t_from, _now()))
        self._publish_batch("clicks", spec["clicks"])
        self._publish_batch("alerts", spec["alerts"])
        for payload, valid in spec["signups"]:
            self.stats.attempted += 1
            try:
                res, dt, _ = self.call.timed(
                    "publish", self.broker.publish, "signups", "user.created", payload
                )
            except Exception as exc:
                self.stats.fail(f"publish raised {exc}"[:300])
                continue
            self.ops["publish.accepted" if res.success else "publish.rejected"].append(dt)
            self.publish_wall += dt
            if res.success:
                self.accepted_events += 1
                self.signups_kept += 1
            else:
                self.rejected += 1
            if res.success != valid:
                self.stats.fail(f"publish validity {res.success} != intended {valid}", wrong=True)
        self._replay(spec)
        self._redrive()
        self._retention()

    def _op(self, kind: str, expected, fn, *args, **kwargs):
        self.stats.attempted += 1
        try:
            out, dt, _ = self.call.timed(kind, fn, *args, **kwargs)
        except Exception as exc:
            self.stats.fail(f"{kind} raised {type(exc).__name__}: {exc}"[:300])
            return None
        self.ops[kind].append(dt)
        if out != expected:
            self.stats.fail(f"{kind} returned {out!r}, expected {expected!r}", wrong=True)
        return out

    def _replay(self, spec: dict) -> None:
        """Replay the orders of the last two rounds, one type, with a limit."""
        first = max(0, len(self.round_marks) - 2)
        t_from, t_to = self.round_marks[first][0], self.round_marks[-1][1]
        rounds = self.plan_rounds[first:]
        n_type = sum(1 for r in rounds for (t, _p, _m) in r["orders"] if t == spec["replay_type"])
        expected = min(spec["replay_limit"], n_type)
        self._op("replay", expected, self.broker.replay_events, "orders", lambda row: None,
                 from_ts=t_from, to_ts=t_to, event_types=[spec["replay_type"]],
                 limit=spec["replay_limit"])

    def _redrive(self) -> None:
        """Heal the oldest dead letter, then redrive it."""
        with self.lock:
            waiting = [i for i in self.billing_dead if i not in self.healed]
            if not waiting:
                return
            self.healed.add(waiting[0])
        if self._op("retry_dlq", True, self.broker.retry_dlq_event, waiting[0]):
            self.redriven += 1

    def _retention(self) -> None:
        expected = max(0, self.signups_kept - self.MAX_EVENTS)
        if self._op("retention", expected, self.broker.apply_retention, "signups") is not None:
            self.signups_kept -= expected

    # the workload interface -----------------------------------------------------

    def warmup(self) -> None:
        self.round_marks: list[tuple] = []
        self.plan_rounds: list[dict] = []
        self._tracked_round()
        # the second live subscription starts once its topic has data
        self._subscribe_live("clicks")
        # set-up and warm-up samples are not measurements
        self.ops.clear()
        self.storage.clear()
        self.handler = dict(calls=0, failures=0)
        self.accepted_events, self.publish_wall, self.rejected = 0, 0.0, 0

    def _tracked_round(self) -> None:
        self.plan_rounds.append(self.plan[self.round % len(self.plan)])
        self._round()

    def timed_pass(self) -> None:
        tr = self.call.tr
        if tr.enabled:
            if not self.passes:
                tr.listener.take()  # micro-batches of the set-up
            forks0 = forks()
        self._tracked_round()
        if tr.enabled:
            self.batches.extend(tr.listener.take())
            self.forks.append(forks() - forks0)
        self.passes += 1

    def stop(self) -> None:
        for sub_id, sub in list(self.broker.subscriptions.items()):
            if sub.query is not None:
                try:
                    self.broker.unsubscribe(sub_id)
                except Exception as exc:  # a dead stream may raise on stop
                    self.stats.errors.append(f"stop {sub_id}: {exc}"[:200])

    def batch_s(self) -> float:
        return sum(median(v) for v in self.ops.values())

    def _wait_for_delivery(self) -> None:
        """Give the live subscriptions time to catch up, off the clock."""
        want = {t: sum(len(r[t]) for r in self.plan_rounds) for t in ("clicks", "alerts")}
        deadline = time.time() + self.DELIVERY_WAIT_S
        while time.time() < deadline:
            with self.lock:
                done = {t: len(self.delivered[t]) >= want[t] for t in want}
            live = {
                s.topic: s.query is not None and s.query.isActive
                for s in self.broker.subscriptions.values() if s.query is not None
            }
            if all(done[t] or not live.get(t, False) for t in want):
                return
            time.sleep(0.2)

    def check(self) -> None:
        self._wait_for_delivery()
        rounds = self.plan_rounds
        orders = [p for r in rounds for (_t, p, _m) in r["orders"]]
        audit_want = sorted(p["seq"] for r in rounds for (t, p, _m) in r["orders"] if t in AUDIT_TYPES)
        billing_want = sorted(p["seq"] for p in orders if not p.get("fail"))
        n_fail = sum(1 for p in orders if p.get("fail"))
        checks = [
            ("audit deliveries", sorted(self.audit_seen), audit_want),
            ("billing deliveries", sorted(self.billing_ok), billing_want),
            ("billing redrives", len(self.billing_redriven), self.redriven),
        ]
        for what, got, want in checks:
            self.stats.attempted += 1
            if got != want:
                self.stats.fail(f"{what}: got {_size(got)}, expected {_size(want)}", wrong=True)
        self.stats.attempted += 1
        try:
            self.dlq_entries = self.broker.dlq.to_df().count()
        except Exception as exc:
            self.stats.fail(f"dlq count raised {type(exc).__name__}: {exc}"[:300], wrong=True)
        else:
            if self.dlq_entries != n_fail - self.redriven:
                self.stats.fail(f"dlq entries {self.dlq_entries} != {n_fail - self.redriven}",
                                wrong=True)
        # a live subscription must deliver every event of its topic; each
        # event it never delivers is a failed operation
        for topic in ("clicks", "alerts"):
            want = {p["seq"] for r in rounds for (_t, p, _m) in r[topic]}
            with self.lock:
                got = set(self.delivered[topic])
            self.stats.attempted += len(want)
            missing = len(want - got)
            if missing:
                self.stats.failed += missing
                self.stats.errors.append(
                    f"live subscription on {topic}: {missing} of {len(want)} events not delivered"
                )
            if got - want:
                self.stats.fail(f"live subscription on {topic}: unexpected events", wrong=True)
        self.live_state = {
            s.topic: (s.query.isActive, str(s.query.exception() or "")[:160])
            for s in self.broker.subscriptions.values() if s.query is not None
        }

    def _latencies(self) -> list[float]:
        """Delivery latencies of events published while their
        subscription was live (a backlog's age is not latency)."""
        out = []
        with self.lock:
            for topic in ("clicks", "alerts"):
                since = self.live_since[topic]
                out.extend(lat * 1000.0 for t0, lat in self.delivered[topic].values() if t0 >= since)
        return out

    def user_metrics(self) -> dict:
        """The broker's user-facing numbers (printed in every run)."""
        pub = [v * 1000.0 for k, vs in self.ops.items() if k.startswith("publish_many.") for v in vs]
        rep = [v * 1000.0 for v in self.ops["replay"]]
        dl = self._latencies()
        p_pct, p_tail, p_n = tail(pub)
        d_pct, d_tail, d_n = tail(dl)
        r_pct, r_tail, r_n = tail(rep)
        return {
            "publish_eps": (self.accepted_events / self.publish_wall, "1/s", ""),
            "publish_p50_ms": (median(pub), "ms", f"n={p_n}"),
            "publish_tail_ms": (p_tail, "ms", f"p{p_pct:g} n={p_n}"),
            "deliver_p50_ms": (median(dl), "ms", f"n={d_n}"),
            "deliver_tail_ms": (d_tail, "ms", f"p{d_pct:g} n={d_n}"),
            "replay_p50_ms": (median(rep), "ms", f"n={r_n}"),
            "replay_tail_ms": (r_tail, "ms", f"p{r_pct:g} n={r_n}"),
        }

    def layers(self) -> dict:
        st = self.storage
        per = max(1, self.passes)
        store_files, store_mb = _dir_stats(os.path.join(self.path, "data", "events"))
        dlq_files, _ = _dir_stats(os.path.join(self.path, "data", "dlq"))
        calls = self.handler["calls"]
        out = {k: v for k, (v, _u, _n) in self.user_metrics().items()}
        out.update({
            "broker.publish_many_ms": out["publish_p50_ms"],
            "broker.publish_ms": median(self.ops["publish.accepted"]) * 1000.0,
            "broker.handler_calls": calls / per,
            "broker.handler_failures": self.handler["failures"] / per,
            "broker.deliver_useful_ratio": (calls - self.handler["failures"]) / calls if calls else 0.0,
            "broker.rejected": self.rejected / per,
            "broker.replay_ms": median(self.ops["replay"]) * 1000.0,
            "broker.retry_dlq_ms": median(self.ops["retry_dlq"]) * 1000.0,
            "broker.retention_ms": median(self.ops["retention"]) * 1000.0,
            "store.save_calls": st["store.save_calls"] / per,
            "store.save_ms": st["store.save_ms"] / per,
            "store.get_ms": st["store.get_ms"] / per,
            "store.delete_ms": st["store.delete_ms"] / per,
            "store.files": float(store_files),
            "store.mb": store_mb,
            "dlq.add_calls": st["dlq.add_calls"] / per,
            "dlq.add_ms": st["dlq.add_ms"] / per,
            "dlq.files": float(dlq_files),
            "dlq.entries": float(getattr(self, "dlq_entries", 0)),
            "proc.forks": median(self.forks),
        })
        out.update(_stream_layers(self.batches, self.passes))
        return out

    def report(self) -> list[str]:
        lines = [
            f"  {k}: median {median(v) * 1000.0:.1f} ms over {len(v)} calls"
            for k, v in sorted(self.ops.items())
        ]
        lines += [f"  {k} = {v:.4g} {u} {n}".rstrip() for k, (v, u, n) in self.user_metrics().items()]
        for topic, (active, exc) in sorted(getattr(self, "live_state", {}).items()):
            lines.append(f"  live subscription {topic}: active={active} {exc}".rstrip())
        return lines


def make(name: str):
    """A fresh workload object for one run."""
    if name == "catalog_iterative":
        return CatalogWorkload(
            name, ["graph_label_propagation", "evt_stream_interval_join"],
            events=5_000, customers=1_500,
        )
    if name == "events_scan":
        return CatalogWorkload(
            name, ["evt_cep_pattern", "evt_funnel_steps"], events=450_000, customers=0,
        )
    if name == "broker_pubsub":
        return BrokerWorkload()
    raise KeyError(name)


WORKLOADS = ["catalog_iterative", "events_scan", "broker_pubsub"]
