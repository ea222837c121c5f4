"""Seeded input generators for the benchmark.

Two generators, each deterministic in its seed and each keeping a
tally of what it planted so the workloads can check the engine's
outputs against it:

- :func:`ev_bronze_csv` writes an EV-sessions bronze CSV with the
  24-column reference schema and the reference's dirt classes.
- :func:`corpus_parquet` writes a ``documents.parquet`` corpus with
  planted exact duplicates, near duplicates, low-quality documents
  and eval-set overlap.

Neither imports Spark: the engine only ever sees the files.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
from dataclasses import dataclass, field

import numpy as np

EPOCH_DAY = dt.date(2014, 11, 18)  # first day of the reference sample
PLATFORMS = ("android", "ios", "web")
WEEKDAYS = ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
WEEKDAY_NAMES = (
    "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday", "Sunday",
)
FACILITY_NAMES = {
    1: "Manufacturing",
    2: "Office",
    3: "Research and Development",
    4: "Other",
}
BRONZE_HEADER = [
    "sessionId", "kwhTotal", "dollars", "created", "ended", "startTime",
    "endTime", "chargeTimeHrs", "weekday", "platform", "distance", "userId",
    "stationId", "locationId", "managerVehicle", "facilityType", "Mon",
    "Tues", "Wed", "Thurs", "Fri", "Sat", "Sun", "reportedZip",
]

# Dirt classes, one per dirty row; every one of them is quarantined by
# the silver row rules. ``two_zero_year`` is not dirt that quarantines:
# it is the reference's timestamp style, repaired by the silver job.
DIRT_SHARES = {
    "distance_na": 0.10,
    "kwh_non_positive": 0.07,
    "end_not_after_start": 0.07,
    "unknown_facility": 0.06,
}
TWO_ZERO_YEAR_SHARE = 0.85


@dataclass
class EvSession:
    """One clean (silver-good) session as the gold table must hold it."""

    session_id: int
    station_id: int
    location_id: int
    event_date: dt.date
    hour: int
    kwh: float
    dollars: float
    charge_hrs: float
    duration_min: float
    platform: str
    facility: str
    user_id: int
    distance: float
    weekday: str
    created: dt.datetime
    ended: dt.datetime

    def gold_row(self, kwh: float | None = None) -> tuple:
        """The row in gold-table column order (schemas.EV_GOLD_SELECT_COLS
        plus the two derived columns), optionally with a new kWh."""
        k = self.kwh if kwh is None else kwh
        return (
            str(self.session_id), str(self.user_id), str(self.station_id),
            str(self.location_id), k, self.dollars, self.distance,
            self.charge_hrs, self.facility, self.platform, self.weekday,
            self.created, self.ended, self.event_date, self.duration_min,
            self.dollars / k if k > 0 else None,
        )


@dataclass
class EvTally:
    rows: int = 0
    dirt: dict[str, int] = field(default_factory=dict)
    two_zero_year_rows: int = 0
    clean: list[EvSession] = field(default_factory=list)
    days: int = 0

    @property
    def good(self) -> int:
        return len(self.clean)

    @property
    def bad(self) -> int:
        return sum(self.dirt.values())


def _stamp(t: dt.datetime, two_zero: bool) -> str:
    s = t.strftime("%Y-%m-%d %H:%M:%S")
    return "00" + s[2:] if two_zero else s


def _parsed(t: dt.datetime, two_zero: bool) -> dt.datetime:
    """What silver makes of the stamp: the two-zero-year repair keeps
    only minutes (the reference's substring(3, 14))."""
    return t.replace(second=0) if two_zero else t


def ev_sessions(
    rng: np.random.Generator,
    n_rows: int,
    first_id: int,
    days: list[int],
    n_stations: int,
    dirty: bool = True,
):
    """Yield (bronze_row, EvSession | None, dirt_class | None,
    two_zero_year) for
    ``n_rows`` sessions spread over ``days`` (offsets from EPOCH_DAY).
    Clean rows come with the session gold must hold."""
    hours_p = np.array(
        [1, 1, 1, 1, 1, 2, 4, 8, 12, 10, 8, 7, 7, 8, 8, 7, 6, 5, 4, 3, 2, 2, 1, 1],
        dtype=float,
    )
    hours_p /= hours_p.sum()
    day_idx = rng.integers(0, len(days), n_rows)
    hour = rng.choice(24, n_rows, p=hours_p)
    minute = rng.integers(0, 60, n_rows)
    second = rng.integers(0, 60, n_rows)
    dur_s = rng.integers(5 * 60, 10 * 3600, n_rows)
    kwh = np.round(rng.uniform(0.5, 25.0, n_rows), 2)
    price = np.round(rng.uniform(0.0, 0.3, n_rows), 3)
    distance = np.round(rng.uniform(0.5, 40.0, n_rows), 4)
    station = rng.integers(0, n_stations, n_rows)
    user = rng.integers(10_000, 99_999, n_rows)
    platform = rng.integers(0, len(PLATFORMS), n_rows)
    facility = rng.integers(1, 5, n_rows)
    manager = rng.integers(0, 2, n_rows)
    zipped = rng.integers(0, 2, n_rows)
    two_zero = rng.random(n_rows) < TWO_ZERO_YEAR_SHARE
    u = rng.random(n_rows)
    cuts = np.cumsum(list(DIRT_SHARES.values()))
    for i in range(n_rows):
        dirt = None
        if dirty:
            k = int(np.searchsorted(cuts, u[i], side="right"))
            dirt = list(DIRT_SHARES)[k] if k < len(cuts) else None
        created = dt.datetime.combine(
            EPOCH_DAY + dt.timedelta(days=days[day_idx[i]]),
            dt.time(int(hour[i]), int(minute[i]), int(second[i])),
        )
        ended = created + dt.timedelta(seconds=int(dur_s[i]))
        k_i, fac_i = float(kwh[i]), int(facility[i])
        dist = f"{distance[i]:.4f}"
        if dirt == "distance_na":
            dist = "NA"
        elif dirt == "kwh_non_positive":
            k_i = -float(kwh[i]) if i % 2 else 0.0
        elif dirt == "end_not_after_start":
            ended = created - dt.timedelta(minutes=int(minute[i]) % 30)
        elif dirt == "unknown_facility":
            fac_i = 5 + i % 3
        dollars = round(max(k_i, 0.0) * float(price[i]), 2)
        charge_hrs = round(float(dur_s[i]) / 3600.0, 3)
        sid = first_id + i
        loc = int(station[i]) // 4
        wd = created.date().weekday()
        row = [
            sid, k_i, dollars, _stamp(created, two_zero[i]),
            _stamp(ended, two_zero[i]), created.hour, ended.hour, charge_hrs,
            WEEKDAYS[wd], PLATFORMS[platform[i]], dist, int(user[i]),
            100_000 + int(station[i]), 1_000 + loc, int(manager[i]), fac_i,
            *[int(wd == d) for d in range(7)], int(zipped[i]),
        ]
        good = None
        if dirt is None:
            c = _parsed(created, two_zero[i])
            e = _parsed(ended, two_zero[i])
            good = EvSession(
                session_id=sid,
                station_id=100_000 + int(station[i]),
                location_id=1_000 + loc,
                event_date=c.date(),
                hour=c.hour,
                kwh=k_i,
                dollars=dollars,
                charge_hrs=charge_hrs,
                duration_min=(e - c).total_seconds() / 60.0,
                platform=PLATFORMS[platform[i]],
                facility=FACILITY_NAMES[fac_i],
                user_id=int(user[i]),
                distance=float(dist),
                weekday=WEEKDAY_NAMES[wd],
                created=c,
                ended=e,
            )
        yield row, good, dirt, bool(two_zero[i])


def ev_bronze_csv(
    path: str, seed: int, n_rows: int, n_days: int, n_stations: int
) -> EvTally:
    """Write the bronze CSV at ``path`` and return the tally."""
    rng = np.random.default_rng([seed, 1])
    tally = EvTally(rows=n_rows, dirt={k: 0 for k in DIRT_SHARES}, days=n_days)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(BRONZE_HEADER)
        for row, good, dirt, two_zero in ev_sessions(
            rng, n_rows, 1_000_000, list(range(n_days)), n_stations
        ):
            w.writerow(row)
            tally.two_zero_year_rows += two_zero
            if good is None:
                tally.dirt[dirt] += 1
            else:
                tally.clean.append(good)
    return tally


# ---------------------------------------------------------------------------
# Document corpus
# ---------------------------------------------------------------------------
EVAL_MOD = 97  # operators.decontam: doc_id % 97 == 0 is the eval set
N_SOURCES = 20


@dataclass
class CorpusTally:
    docs: int = 0
    eval_docs: int = 0
    exact_dups: int = 0
    near_dup_pairs: list[tuple[int, int]] = field(default_factory=list)
    contaminated: int = 0
    low_quality: int = 0


def _vocab(rng: np.random.Generator, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, size)
    words = {"".join(rng.choice(letters, n)) for n in lens}
    return sorted(words)


def corpus_parquet(directory: str, seed: int, n_docs: int) -> CorpusTally:
    """Write ``<directory>/documents.parquet`` (doc_id, text, lang,
    source, n_chars) and return the tally of planted cases.

    Plants, in corpus docs (doc_id % 97 != 0): exact duplicates that
    differ only in case and spacing, near duplicates with a few words
    replaced, copies of a word span of an eval doc, and docs too short
    for the quality gate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng, 6000)
    tally = CorpusTally(docs=n_docs)
    texts: list[str] = []
    kinds = rng.random(n_docs)
    for doc_id in range(n_docs):
        k = kinds[doc_id]
        is_eval = doc_id % EVAL_MOD == 0
        base = [vocab[j] for j in rng.integers(0, len(vocab), rng.integers(20, 120))]
        if is_eval:
            tally.eval_docs += 1
        elif doc_id > 200 and k < 0.08:
            src = texts[int(rng.integers(0, doc_id))].split(" ")
            base = [w.upper() if j % 5 == 0 else w for j, w in enumerate(src)]
            base = ("  ".join(base[:3]) + " " + " ".join(base[3:])).split(" ")
            tally.exact_dups += 1
        elif doc_id > 200 and k < 0.14:
            j = int(rng.integers(0, doc_id))
            while j % EVAL_MOD == 0:
                j -= 1
            src = texts[j].split(" ")
            base = list(src)
            for p in rng.integers(0, len(base), max(1, len(base) // 25)):
                base[p] = vocab[int(rng.integers(0, len(vocab)))]
            tally.near_dup_pairs.append((j, doc_id))
        elif doc_id > 200 and k < 0.17:
            e = int(rng.integers(1, doc_id // EVAL_MOD + 1)) * EVAL_MOD
            span = texts[e].split(" ")[5:12]
            at = int(rng.integers(0, len(base)))
            base = base[:at] + span + base[at:]
            tally.contaminated += 1
        elif k < 0.20:
            base = base[: int(rng.integers(1, 5))]
            tally.low_quality += 1
        texts.append(" ".join(base))
    ids = np.arange(n_docs, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": ["en"] * n_docs,
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    os.makedirs(directory, exist_ok=True)
    pq.write_table(table, os.path.join(directory, "documents.parquet"))
    return tally
