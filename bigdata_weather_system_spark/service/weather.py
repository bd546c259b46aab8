"""Query-service facade — the reference's 7-endpoint surface (SURVEY §2.11).

Capability parity with ``WeatherKafkaService``
(``/root/reference/prediction/preprocessing/spark.py:440-1620``) re-expressed
over a pluggable event DataFrame (batch table, accumulated stream table, or
parsed Kafka snapshot — stream/batch duality is a constructor argument, not
duplicated query code).

Observable quirks preserved (SURVEY §2.11 "semantic quirks"):
- ``hours *= 12; step *= 12`` in the generic regime (12 events/hour cadence
  assumption, reference spark.py:808-810);
- hourly regime filters driver-clock "today", daily regime today−6..today
  (spark.py:588-589, 694-698) — ``now`` is injectable for reproducibility;
- modal weathercode ties break to the smallest code (spark.py:632-635);
- location match is case-insensitive against both location and key
  (spark.py:476-483);
- generic regime buckets by global row index (spark.py:821-828) — kept
  quirk-exact by default, with ``scalable_buckets=True`` switching to
  event-time buckets (per-key partitioned; the 100 TB-safe plan, SURVEY
  §4.3).

Scale deltas from the reference (SURVEY §4.3): no per-request ``.take(1)`` /
``rdd.isEmpty()`` probe jobs; sargable ``to_date`` predicates instead of
``date_format`` strings; the 6×-pasted agg block is one parameterized call
that scans the events once per profile; small results (at most a few
hundred buckets or days) are collected unsorted and sorted on the driver,
so no request pays a sampling job and a range exchange for its order.
"""

from __future__ import annotations

import datetime as dt
from collections import Counter
from collections.abc import Callable

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..operators.latest import latest_per_key, top_n_per_key
from ..operators.profile import bucketed_profile

METRICS = (
    "temperature",
    "windspeed",
    "winddirection",
    "humidity",
    "rain",
    "visibility",
    "pressure",
    "precipitation",
)
CONTEXT_FIELDS = ("latitude", "longitude", "interval", "is_day")


# ---------------------------------------------------------------------------
# Driver-side response shaping (U1/P14 parity — stays post-collect)
# ---------------------------------------------------------------------------

def coerce_value(v):
    """String payload value → bool/int/float when cleanly convertible
    (reference ``_coerce_value``, spark.py:300-319)."""
    if not isinstance(v, str):
        return v
    low = v.strip().lower()
    if low == "true":
        return True
    if low == "false":
        return False
    try:
        f = float(v)
    except (TypeError, ValueError):
        return v
    if f.is_integer() and "." not in v and "e" not in low:
        return int(f)
    return f


_DROP_KEYS = {"message", "error", "error_message"}


def _nulls_first(v):
    """Sort key matching an ascending ``orderBy``: NULL first, then values."""
    return (v is not None, v)


def row_to_record(row) -> dict:
    """Typed row → response dict; unknown payload keys surface in details,
    error/None keys dropped (reference ``_row_to_record``, spark.py:338-357)."""
    d = row.asDict(recursive=True)
    payload = d.pop("payload", None) or {}
    details = {
        k: coerce_value(v)
        for k, v in payload.items()
        if k not in _DROP_KEYS and v is not None
    }
    rec = {k: v for k, v in d.items() if v is not None}
    if details:
        rec["details"] = details
    return rec


class WeatherService:
    """Endpoint-equivalent query methods over a weather-event DataFrame."""

    def __init__(
        self,
        events_df_factory: Callable[[], DataFrame],
        now_fn: Callable[[], dt.datetime] | None = None,
        events_per_hour: int = 12,
    ):
        """``events_df_factory``: returns the current event table (a batch
        DataFrame, or ``spark.table(...)`` over an accumulating stream sink —
        T7 stream/batch duality). ``now_fn``: injectable clock."""
        self._events = events_df_factory
        self._now = now_fn or dt.datetime.utcnow
        self._eph = events_per_hour

    # -- location predicate (P8) ------------------------------------------

    @staticmethod
    def _location_filter(df: DataFrame, key: str) -> DataFrame:
        k = F.lit(key.lower())
        return df.filter(
            F.lower(F.col("location")).eqNullSafe(k)
            | F.lower(F.col("key")).eqNullSafe(k)
        )

    # -- endpoints ---------------------------------------------------------

    def list_latest(self, limit: int = 50) -> list[dict]:
        """GET /weather — latest record per location (W1 → O3)."""
        df = latest_per_key(self._events()).orderBy(F.col("location").asc()).limit(limit)
        return [row_to_record(r) for r in df.collect()]

    def get_location(self, key: str) -> dict | None:
        """GET /weather/{key} — newest record for one location (O2 top-1)."""
        df = self._location_filter(self._events(), key)
        rows = (
            df.orderBy(F.col("event_timestamp").desc(), F.col("kafka_timestamp").desc())
            .limit(1)
            .collect()
        )
        return row_to_record(rows[0]) if rows else None

    def get_weather_average_day(self, key: str, date: dt.date | str) -> dict | None:
        """GET /weather/average_day/{key}/{date} (A7)."""
        d = dt.date.fromisoformat(date) if isinstance(date, str) else date
        df = self._location_filter(self._events(), key).filter(
            F.to_date("event_timestamp") == F.lit(d)
        )
        rows = df.agg(
            F.avg("temperature").alias("average_temperature"),
            F.avg("windspeed").alias("average_windspeed"),
            F.avg("winddirection").alias("average_winddirection"),
            F.count(F.lit(1)).alias("_n"),
        ).collect()
        if not rows or rows[0]["_n"] == 0:
            return None
        out = rows[0].asDict()
        out.pop("_n")
        return {"location": key, "date": d.isoformat(), **out}

    def get_weather_days(self, key: str) -> list[str]:
        """GET /weather/days/{key} — distinct days ascending (A8 → O4)."""
        df = self._location_filter(self._events(), key)
        rows = (
            df.select(F.to_date("event_timestamp").cast("string").alias("day"))
            .distinct()
            .collect()
        )
        return sorted((r.day for r in rows), key=_nulls_first)

    def get_recent_history(self, key: str, hours: int = 24) -> list[dict]:
        """Raw rows in the trailing ``hours`` window ending at the location's
        latest event (A1 → P12 → O1 → O3). Single plan — the reference's
        separate max-timestamp job (spark.py:581-585) is folded in via a
        window max."""
        df = self._location_filter(self._events(), key)
        w = Window.partitionBy(F.lit(1))
        cutoff = F.max("event_timestamp").over(w) - F.make_dt_interval(hours=F.lit(hours))
        rows = (
            df.withColumn("_cutoff", cutoff)
            .filter(F.col("event_timestamp") >= F.col("_cutoff"))
            .drop("_cutoff")
            .orderBy(F.col("event_timestamp").desc(), F.col("kafka_timestamp").desc())
            .limit(hours * self._eph)
            .collect()
        )
        return [row_to_record(r) for r in rows]

    # -- bucketed profiles (the recent_with_step regimes) ------------------

    def _profile(self, df: DataFrame, bucket: F.Column, name: str) -> list[dict]:
        """Shared agg block (A2-A6+J) — the reference pastes this 6×."""
        aggs = (
            [F.avg(m).alias(m) for m in METRICS]
            + [
                F.min_by(F.col(c), F.col("event_timestamp")).alias(c)
                for c in CONTEXT_FIELDS
            ]
            + [F.count(F.lit(1)).alias("n_events")]
        )
        out = bucketed_profile(
            df, bucket, name, aggs,
            mode_col="weathercode", mode_out="weathercode_mode",
        ).collect()
        recs = []
        for r in sorted(out, key=lambda r: _nulls_first(r[name])):
            d = {k: v for k, v in r.asDict().items() if v is not None}
            code = d.pop("weathercode_mode", None)
            if code is not None:
                d["weathercode"] = code
            recs.append(d)
        return recs

    def get_recent_history_with_step(
        self,
        key: str,
        hours: int = 24,
        step: int = 1,
        now: dt.datetime | None = None,
        scalable_buckets: bool = False,
    ) -> list[dict]:
        """GET /weather/recent_with_step/{key}?hours&step — 3 regimes."""
        now = now or self._now()
        df = self._location_filter(self._events(), key)

        if (hours, step) == (24, 1):
            today = df.filter(F.to_date("event_timestamp") == F.lit(now.date()))
            return self._profile(
                today, F.hour("event_timestamp").alias("hour"), "hour"
            )

        if (hours, step) == (168, 24):
            d0 = now.date() - dt.timedelta(days=6)
            week = df.filter(
                F.to_date("event_timestamp").between(F.lit(d0), F.lit(now.date()))
            )
            return self._profile(
                week,
                F.to_date("event_timestamp").cast("string").alias("day"),
                "day",
            )

        # generic regime: hours/step are scaled to 5-min event counts
        n_events = hours * self._eph
        step_events = max(step * self._eph, 1)
        if scalable_buckets:
            # 100 TB path: event-time buckets, per-key partitioned
            latest = top_n_per_key(
                df,
                ["location"],
                [F.col("event_timestamp").desc(), F.col("kafka_timestamp").desc()],
                n=n_events,
            )
            bucket = F.floor(
                F.unix_timestamp("event_timestamp") / F.lit(step_events * 300)
            ).cast("long")
            return self._profile(latest, bucket.alias("bucket"), "bucket")
        # quirk-exact path: global row-index buckets (single-partition sort —
        # acceptable only because the per-location slice is small; see module
        # docstring for the scalable alternative)
        w = Window.orderBy(
            F.col("event_timestamp").desc(), F.col("kafka_timestamp").desc()
        )
        idx = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n_events)
        )
        bucket = F.floor((F.col("_rn") - 1) / F.lit(step_events)).cast("long")
        return self._profile(idx, bucket.alias("bucket"), "bucket")

    # -- inference support (§2.11 predict; U4) -----------------------------

    def get_sequence_for_location(self, key: str, length: int = 24) -> list[dict]:
        """Trailing ``length`` rows, ascending (O2 top-k then reverse)."""
        df = self._location_filter(self._events(), key)
        rows = (
            df.orderBy(F.col("event_timestamp").desc(), F.col("kafka_timestamp").desc())
            .limit(length)
            .collect()
        )
        return [row_to_record(r) for r in reversed(rows)]

    def predict_weather(
        self,
        key: str,
        steps: int = 1,
        predictor: Callable[[list[dict], int], list[dict]] | None = None,
    ) -> dict:
        """GET /weather/predict/{key}?steps — autoregressive inference over
        the trailing-24 context, rolled up hourly (U4 shape). The model is
        pluggable; default = persistence forecast (last value + modal code),
        deterministic and dependency-free. A trained model drops in as
        ``predictor`` without touching query code.

        Returns the reference's response envelope
        (spark.py:1559-1574): key/location/steps/predictions/based_on/
        details, or an ``{"error": ...}`` dict (steps < 1, insufficient
        context) that the HTTP layer maps to 400.
        """
        if steps < 1:
            return {"error": "Steps must be at least 1"}
        context = self.get_sequence_for_location(key, 24)
        if not context or len(context) < 24:
            got = len(context) if context else 0
            return {
                "error": f"Insufficient data for location '{key}'. Need at "
                f"least 24 data points, got {got}."
            }
        predictor = predictor or persistence_predictor
        per_step = predictor(context, steps * self._eph)
        last = context[-1]
        details = {
            k: last.get("details", {}).get(k)
            for k in ("latitude", "longitude")
            if last.get("details", {}).get(k) is not None
        }
        return {
            "key": key,
            "location": key,
            "steps": steps,
            "predictions": hourly_rollup(per_step),
            "based_on": {
                "sequence_length": len(context),
                "last_timestamp": last.get("event_timestamp"),
            },
            "details": details,
        }


def _modal_code(rows: list[dict]):
    """Most frequent non-null ``weathercode`` of ``rows``, ties to the
    smallest code (reference spark.py:632-635); None when there is none."""
    counts = Counter(r["weathercode"] for r in rows if r.get("weathercode") is not None)
    if not counts:
        return None
    top = max(counts.values())
    return min(c for c, n in counts.items() if n == top)


def persistence_predictor(context: list[dict], n_steps: int) -> list[dict]:
    """Default model: repeat the last observation forward at 5-min cadence;
    weathercode = modal code of the context (smallest-code ties)."""
    last = context[-1]
    modal = _modal_code(context)
    t0 = last["event_timestamp"]
    if isinstance(t0, str):
        t0 = dt.datetime.fromisoformat(t0)
    out = []
    for i in range(1, n_steps + 1):
        out.append(
            {
                "event_timestamp": t0 + dt.timedelta(minutes=5 * i),
                "temperature": last.get("temperature"),
                "weathercode": modal,
            }
        )
    return out


def hourly_rollup(steps: list[dict]) -> list[dict]:
    """5-min predictions → hourly summaries (avg temperature, modal code
    with smallest-code ties) — A10 parity, reference spark.py:1443-1496."""
    by_hour: dict[str, list[dict]] = {}
    for s in steps:
        ts = s["event_timestamp"]
        hour = ts.replace(minute=0, second=0, microsecond=0)
        by_hour.setdefault(hour.isoformat(), []).append(s)
    out = []
    for hour in sorted(by_hour):
        rows = by_hour[hour]
        temps = [r["temperature"] for r in rows if r.get("temperature") is not None]
        out.append(
            {
                "hour": hour,
                "temperature": sum(temps) / len(temps) if temps else None,
                "weathercode": _modal_code(rows),
                "n_steps": len(rows),
            }
        )
    return out
