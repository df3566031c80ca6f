"""Seeded covid_raw CSV batches and a pure-Python oracle for the pipeline.

The batches carry the noise the silver transform must handle:
case- and whitespace-dirty state and county names, an apostrophe
county, empty case counts (loaded as 0), unparsable death counts and
bad dates (both dropped), ballast columns, and ten rows per date. The
batch size is not a multiple of ten, so a date straddles every batch
boundary. The third landing re-delivers the first batch; the
incremental ETL and the streaming file source must both load nothing
from it.

The oracle re-implements the transform in plain Python and answers the
silver row count and the gold widgets q1, q2, q4 (top 9 + Other) and
q5 from the rows delivered so far.
"""

from __future__ import annotations

import csv
import datetime as dt
import random
from collections import Counter, defaultdict

HEADER = [
    "REPORT_DATE",
    "PROVINCE_STATE_NAME",
    "COUNTY_NAME",
    "PEOPLE_POSITIVE_NEW_CASES_COUNT",
    "PEOPLE_DEATH_NEW_COUNT",
    "CONTINENT_NAME",
    "DATA_SOURCE_NAME",
    "PEOPLE_POSITIVE_CASES_COUNT",
    "COUNTY_FIPS_NUMBER",
]

STATES = [" arkansas ", "FLORIDA", "california", " Colorado", "new york", "TEXAS ", "ohio", " Maine"]
COUNTIES = [
    " bradley", "O'BRIEN", "martin ", "GARLAND", "greene", "pulaski ", "Adams",
    " baker", "CLAY ", "dallas", "Essex", "franklin ", " HOLMES", "lake", "Marion",
]
TOP_K = 9


def make_batch(seed: int, index: int, batch_rows: int, start: str = "2020-01-22"):
    """Batch ``index`` of a seeded stream of CSV rows. Rows are numbered
    across batches, and row ``i`` reports day ``i // 10``."""
    rng = random.Random(f"{seed}-{index}")
    d0 = dt.date.fromisoformat(start)
    rows = []
    for i in range(index * batch_rows, (index + 1) * batch_rows):
        cases = str(rng.randint(0, 500))
        deaths = str(rng.randint(0, 50))
        if i % 97 == 0:
            cases = ""  # empty -> 0
        if i % 193 == 0:
            deaths = "N/A"  # unparsable -> row dropped
        day = "not-a-date" if i % 211 == 0 else (d0 + dt.timedelta(days=i // 10)).isoformat()
        rows.append(
            [
                day,
                rng.choice(STATES),
                rng.choice(COUNTIES),
                cases,
                deaths,
                "North America",
                "cdc",
                str(rng.randint(0, 99999)),
                str(rng.randint(1000, 56045)),
            ]
        )
    return rows


def delivered(j: int) -> int:
    """The batch that lands ``j``-th: 0, 1, then 0 again (all its dates
    are below the ETL watermark by then), then 2, 3, 4, ..."""
    return (0, 1, 0)[j] if j < 3 else j - 1


def write_csv(path: str, rows) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        w.writerows(rows)


def _initcap(s: str) -> str:
    # Spark initcap: lower-case, then upper-case the first letter of each
    # space-separated word
    return " ".join(w[:1].upper() + w[1:] for w in s.lower().split(" "))


def _measure(s: str) -> int | None:
    s = s.strip()
    if s == "":
        return 0
    try:
        return int(s)
    except ValueError:
        return None


def clean_rows(rows):
    """The silver transform: (date, state, county, new_cases, new_deaths)."""
    out = []
    for r in rows:
        try:
            day = dt.date.fromisoformat(r[0].strip())
        except ValueError:
            continue
        cases, deaths = _measure(r[3]), _measure(r[4])
        if cases is None or deaths is None:
            continue
        out.append((day, _initcap(r[1].strip()), _initcap(r[2].strip()), cases, deaths))
    return out


class Oracle:
    """Expected pipeline state over the distinct batches landed so far."""

    def __init__(self) -> None:
        self.n = 0
        self.latest: dt.date | None = None
        self.cases_by_county: Counter = Counter()
        self.deaths_by_state: Counter = Counter()

    def add(self, rows) -> None:
        for day, state, county, cases, deaths in clean_rows(rows):
            self.n += 1
            self.latest = day if self.latest is None else max(self.latest, day)
            self.cases_by_county[county] += cases
            self.deaths_by_state[state] += deaths

    def q4(self) -> list[tuple[str, int, float]]:
        """(county, cases, pct) for the top 9 counties and 'Other'."""
        ranked = sorted(self.cases_by_county.items(), key=lambda kv: (-kv[1], kv[0]))
        total = sum(self.cases_by_county.values())
        groups: dict[str, int] = defaultdict(int)
        for rank, (county, cases) in enumerate(ranked, 1):
            groups[county if rank <= TOP_K else "Other"] += cases
        return sorted(
            ((c, n, n * 100.0 / total) for c, n in groups.items()),
            key=lambda x: (-x[1], x[0]),
        )

    def q5(self) -> dict[str, int]:
        return dict(self.deaths_by_state)
