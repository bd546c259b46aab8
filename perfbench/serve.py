"""serve_ingest: the weather path with writes beside reads.

- Generator (open loop): one Kafka-shaped JSON-lines file per crawl cycle
  for every location, written on a fixed schedule into the stream's input
  directory (schema ``RAW_FILE_SCHEMA``; payload shaped like
  ``weather_sim._event``, values drawn from the seed).
- Stream: ``start_parquet_sink`` with the default trigger ingests the files.
- Service: ``WeatherService`` reads the sink through a simulated clock and
  ``serve`` exposes it on localhost.
- Clients (closed loop): a few threads issue the 7 routes with a seeded
  mix and skewed keys; a share of requests carry an unknown key or a bad
  parameter, and every response status is checked against the status that
  request should get.
"""

from __future__ import annotations

import datetime as dt
import glob
import http.client
import json
import os
import random
import shutil
import threading
import time
from urllib.parse import quote

import harness

# Sizes and rates. Where the repo records a figure the comment cites it;
# the others are assumptions of the benchmark (README.md, "Assumptions").

#: locations per crawl cycle (assumption: the reference's location list is
#: not in this repo; SURVEY.md only says "province + ward level")
N_LOCATIONS = 500
#: history loaded in set-up: 48 cycles of 5 minutes = 4 hours, more than the
#: 24-point context /predict needs
HISTORY_CYCLES = 48
#: wall seconds between two crawl cycles. The reference crawls every 300 s
#: (SURVEY.md §6, producer sleep 300 s); the benchmark compresses event time
#: so that a window of 15 s or more sees at least 100 files (15 / 100), enough
#: for a freshness quantile. Each file still carries event times 300 s apart.
CYCLE_PERIOD_S = 0.15
#: concurrent closed-loop clients (assumption)
CLIENTS = 2
START = dt.datetime(2024, 1, 1)
#: event-time step between cycles (SURVEY.md §6: one event per location per
#: 5 minutes)
INTERVAL_S = 300
#: shares of requests with an unknown key (→ 404) and a malformed parameter
#: (→ 422) (assumptions)
UNKNOWN_KEY_SHARE = 0.05
BAD_PARAM_SHARE = 0.02
#: Zipf exponent of the key popularity (assumption: the classic s = 1)
ZIPF_S = 1.0
SAMPLED_KEYS = 5

#: The 7 routes of the service (SURVEY.md §2.11, main.py:56-133). Nothing in
#: the repo records how often each is called (the reference's UI tree has
#: no code), so the benchmark assumes a uniform mix: each client deals the
#: routes from shuffled decks holding each route once, so every run sends
#: the same mix in a seeded order.
ROUTES = (
    "root", "list", "location", "days", "average_day", "recent_with_step", "predict",
)
#: requests per client in the concurrent warm-up burst of set-up
WARMUP_PER_CLIENT = 10
#: (hours, step) of recent_with_step: hourly, daily and generic regimes
STEP_REGIMES = ((24, 1), (168, 24), (6, 1))
#: routes whose parameters can be malformed (→ 422)
PARAM_ROUTES = ("list", "recent_with_step", "predict")


def location_names(n: int = N_LOCATIONS) -> list[str]:
    return [f"Phường {i:03d}, Thành phố Hồ Chí Minh" for i in range(n)]


def cycle_time(cycle: int) -> dt.datetime:
    return START + dt.timedelta(seconds=cycle * INTERVAL_S)


class Generator:
    """Writes one file per crawl cycle and remembers what it wrote."""

    def __init__(self, in_dir: str, seed: int, locations: list[str]):
        self.in_dir = in_dir
        self.locations = locations
        self.seed = seed
        self.cycles = 0
        self.created: dict[str, float] = {}  # file name → wall time written
        self.last: dict[str, dict] = {}  # location → last payload written
        self.late_s = 0.0
        os.makedirs(in_dir, exist_ok=True)

    def _payload(self, rng: random.Random, loc_idx: int, cycle: int) -> dict:
        ts = cycle_time(cycle)
        return {
            "location_name": self.locations[loc_idx],
            "time": ts.isoformat(timespec="minutes"),
            "interval": str(INTERVAL_S),
            "temperature": str(round(rng.uniform(15.0, 35.0), 2)),
            "windspeed": str(round(rng.uniform(0.0, 40.0), 1)),
            "winddirection": str(rng.randrange(360)),
            "humidity": str(rng.randrange(40, 100)),
            "weathercode": str(rng.randrange(4)),
            "is_day": str(1 if 6 <= ts.hour < 18 else 0),
            "latitude": str(round(8.0 + loc_idx * 0.02, 4)),
            "longitude": str(round(102.0 + loc_idx * 0.015, 4)),
        }

    def write_cycle(self) -> str:
        cycle = self.cycles
        rng = random.Random(self.seed * 1_000_003 + cycle)
        lines = []
        for i, loc in enumerate(self.locations):
            p = self._payload(rng, i, cycle)
            kafka_ts = cycle_time(cycle) + dt.timedelta(seconds=rng.randrange(30))
            lines.append(
                json.dumps(
                    {
                        "key": loc,
                        "value": json.dumps(p, sort_keys=True),
                        "timestamp": kafka_ts.isoformat(),
                    },
                    ensure_ascii=False,
                )
            )
            self.last[loc] = p
        name = f"cycle-{cycle:06d}.json"
        tmp = os.path.join(self.in_dir, "." + name + ".tmp")
        with open(tmp, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(self.in_dir, name))
        self.created[name] = time.time()
        self.cycles += 1
        return name

    def run_schedule(self, stop: threading.Event, period: float):
        """Open loop: cycle k is due at start + k * period, late or not."""
        t0 = time.perf_counter()
        k = 0
        while not stop.is_set():
            due = t0 + k * period
            now = time.perf_counter()
            if now < due:
                stop.wait(due - now)
                continue
            self.late_s = max(self.late_s, now - due)
            self.write_cycle()
            k += 1

    @property
    def rows(self) -> int:
        return self.cycles * len(self.locations)

    def now(self) -> dt.datetime:
        """Simulated clock: the event time of the newest cycle written."""
        return cycle_time(max(self.cycles - 1, 0))


class Request:
    __slots__ = ("route", "path", "expect", "status", "latency", "t0", "error")

    def __init__(self, route: str, path: str, expect: int):
        self.route, self.path, self.expect = route, path, expect
        self.status = None
        self.latency = 0.0
        self.t0 = 0.0
        self.error = None

    @property
    def ok(self) -> bool:
        return self.error is None and self.status == self.expect

    @property
    def hits_service(self) -> bool:
        """Requests that reach a WeatherService method (not root, not 422)."""
        return self.route != "root" and self.expect != 422


class RequestMix:
    """Seeded request stream: route mix, Zipf-skewed keys, a share of
    unknown keys and malformed parameters, each with its expected status."""

    def __init__(self, seed: int, locations: list[str]):
        self.rng = random.Random(seed)
        self.locations = list(locations)
        self.rng.shuffle(self.locations)
        self.key_weights = [1.0 / (r + 1) ** ZIPF_S for r in range(len(locations))]
        self.day = START.date().isoformat()
        self._n = 0
        self._deck: list[str] = []
        self._regime = 0

    def _route(self) -> str:
        if not self._deck:
            self._deck = list(ROUTES)
            self.rng.shuffle(self._deck)
        return self._deck.pop()

    def _key(self) -> tuple[str, bool]:
        if self.rng.random() < UNKNOWN_KEY_SHARE:
            self._n += 1
            return f"Nowhere {self._n}", False
        key = self.rng.choices(self.locations, self.key_weights)[0]
        return (key.lower() if self.rng.random() < 0.3 else key), True

    def next(self) -> Request:
        route = self._route()
        param_share = len(PARAM_ROUTES) / len(ROUTES)
        bad = route in PARAM_ROUTES and self.rng.random() < BAD_PARAM_SHARE / param_share
        if route == "root":
            return Request(route, "/", 200)
        if route == "list":
            if bad:
                return Request(route, "/weather?limit=" + self.rng.choice(["0", "abc"]), 422)
            return Request(route, f"/weather?limit={self.rng.randint(1, 50)}", 200)
        key, known = self._key()
        k = quote(key, safe="")
        if route == "location":
            return Request(route, f"/weather/{k}", 200 if known else 404)
        if route == "days":
            return Request(route, f"/weather/days/{k}", 200 if known else 404)
        if route == "average_day":
            return Request(route, f"/weather/average_day/{k}/{self.day}", 200 if known else 404)
        if route == "recent_with_step":
            if bad:
                return Request(route, f"/weather/recent_with_step/{k}?hours=x", 422)
            hours, step = STEP_REGIMES[self._regime % len(STEP_REGIMES)]
            self._regime += 1
            return Request(
                route, f"/weather/recent_with_step/{k}?hours={hours}&step={step}", 200
            )
        # predict: unknown key → 400 (insufficient context), bad steps → 422
        if bad:
            return Request(route, f"/weather/predict/{k}?steps=" + self.rng.choice(["0", "49"]), 422)
        return Request(
            route, f"/weather/predict/{k}?steps={self.rng.randint(1, 3)}", 200 if known else 400
        )


def warmup_requests(key: str) -> list[Request]:
    k = quote(key, safe="")
    day = START.date().isoformat()
    return [
        Request("root", "/", 200),
        Request("list", "/weather?limit=5", 200),
        Request("location", f"/weather/{k}", 200),
        Request("days", f"/weather/days/{k}", 200),
        Request("average_day", f"/weather/average_day/{k}/{day}", 200),
        *(
            Request("recent_with_step", f"/weather/recent_with_step/{k}?hours={h}&step={s}", 200)
            for h, s in STEP_REGIMES
        ),
        Request("predict", f"/weather/predict/{k}?steps=2", 200),
    ]


def http_get(port: int, path: str, timeout: float = 60.0) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def issue(port: int, req: Request) -> Request:
    req.t0 = time.perf_counter()
    try:
        req.status, _ = http_get(port, req.path)
    except (OSError, http.client.HTTPException) as exc:
        req.error = f"{type(exc).__name__}: {exc}"
    req.latency = time.perf_counter() - req.t0
    return req


def warm_clients(port: int, seed: int, locations: list[str],
                 n_clients: int = CLIENTS) -> list[Request]:
    """``WARMUP_PER_CLIENT`` requests from each of ``n_clients`` clients."""
    done: list[list[Request]] = [[] for _ in range(n_clients)]

    def client(i: int):
        mix = RequestMix(seed * 31 + n_clients + i, locations)
        done[i] = [issue(port, mix.next()) for _ in range(WARMUP_PER_CLIENT)]

    threads = [threading.Thread(target=client, args=(i,)) for i in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [r for rs in done for r in rs]


def run_clients(port: int, seed: int, seconds: float, locations: list[str],
                n_clients: int = CLIENTS) -> list[Request]:
    """Closed loop: each client sends its next request when the previous
    one has returned, until ``seconds`` have elapsed."""
    done: list[list[Request]] = [[] for _ in range(n_clients)]
    stop = threading.Event()

    def client(i: int):
        mix = RequestMix(seed * 31 + i, locations)
        while not stop.is_set():
            done[i].append(issue(port, mix.next()))

    threads = [threading.Thread(target=client, args=(i,)) for i in range(n_clients)]
    for t in threads:
        t.start()
    stop.wait(seconds)
    stop.set()
    for t in threads:
        t.join()
    return [r for rs in done for r in rs]


class ServeSetup:
    """Directories, stream, service and server of one serve_ingest run."""

    def __init__(self, spark, seed: int, service_wrapper=None,
                 n_locations: int = N_LOCATIONS):
        from bigdata_weather_system_spark.service import http_app
        from bigdata_weather_system_spark.service.weather import WeatherService
        from bigdata_weather_system_spark.streaming.pipeline import (
            read_event_stream,
            start_parquet_sink,
        )

        self.spark = spark
        self.base = os.path.join(harness.BUILD_DIR, "serve", str(os.getpid()))
        shutil.rmtree(self.base, ignore_errors=True)
        self.in_dir = os.path.join(self.base, "incoming")
        self.sink = os.path.join(self.base, "sink")
        self.ckpt = os.path.join(self.base, "checkpoint")
        self.gen = Generator(self.in_dir, seed, location_names(n_locations))
        for _ in range(HISTORY_CYCLES):
            self.gen.write_cycle()
        self.query = start_parquet_sink(
            read_event_stream(spark, source="files", path=self.in_dir),
            self.sink,
            self.ckpt,
        )
        self.query.processAllAvailable()
        service = WeatherService(
            lambda: spark.read.parquet(self.sink), now_fn=self.gen.now
        )
        self.service = service_wrapper(service) if service_wrapper else service
        self.httpd = http_app.serve(self.service, host="127.0.0.1", port=0)
        self.port = self.httpd.server_address[1]
        # first calls of each route pay one-time compilation and JIT warm-up;
        # keep them in set-up: one request per route, then a short burst
        self.warmup = [issue(self.port, r) for r in warmup_requests(self.gen.locations[0])]
        self.warmup += warm_clients(self.port, seed, self.gen.locations)


    def close(self):
        if self.httpd is not None:
            self.httpd.shutdown()
            self.httpd.server_close()
            self.httpd = None
        if self.query.isActive:
            self.query.stop()

    def remove(self):
        """Delete this run's input, sink and checkpoint directories."""
        shutil.rmtree(self.base, ignore_errors=True)


def freshness(ckpt: str, created: dict[str, float]) -> list[float]:
    """File written → commit of the micro-batch that read it, from the
    checkpoint's source log (file → batch) and commit log (batch → time)."""
    batch_of: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    batch_of[os.path.basename(e["path"])] = int(e["batchId"])
    commit_at = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "[0-9]*")):
        name = os.path.basename(path)
        if name.isdigit():
            commit_at[int(name)] = os.path.getmtime(path)
    out = []
    for name, t_written in created.items():
        b = batch_of.get(name)
        if b is not None and b in commit_at:
            out.append(commit_at[b] - t_written)
    return out


def gate_checks(port: int, gen: Generator, seed: int, spark, sink: str) -> list[tuple[str, bool, str]]:
    """Post-drain correctness: (check, passed, detail) triples."""
    checks = []
    rows = spark.read.parquet(sink).count()
    checks.append(("ingested_rows", rows == gen.rows, f"{rows} ingested, {gen.rows} generated"))

    last_ts = gen.now().strftime("%Y-%m-%d %H:%M:%S")
    status, body = http_get(port, f"/weather?limit={2 * len(gen.locations)}")
    ok, detail = status == 200, f"status {status}"
    if ok:
        got = {r["location"]: r.get("event_timestamp") for r in json.loads(body)["results"]}
        missing = set(gen.locations) - set(got)
        stale = [loc for loc, ts in got.items() if str(ts) != last_ts]
        ok = not missing and not stale
        detail = f"{len(got)} listed, {len(missing)} missing, {len(stale)} not at {last_ts}"
    checks.append(("list_all_latest", ok, detail))

    rng = random.Random(seed + 7)
    bad = []
    for loc in rng.sample(gen.locations, min(SAMPLED_KEYS, len(gen.locations))):
        status, body = http_get(port, "/weather/" + quote(loc, safe=""))
        want = gen.last[loc]
        if status != 200:
            bad.append(f"{loc}: status {status}")
            continue
        rec = json.loads(body)
        same = (
            str(rec.get("event_timestamp")) == last_ts
            and abs(float(rec.get("temperature")) - float(want["temperature"])) < 1e-9
            and abs(float(rec.get("windspeed")) - float(want["windspeed"])) < 1e-9
            and int(rec.get("weathercode")) == int(want["weathercode"])
        )
        if not same:
            bad.append(f"{loc}: {rec} vs {want}")
    checks.append(("sampled_latest", not bad, "; ".join(bad)[:300] or "sampled keys match"))
    return checks
