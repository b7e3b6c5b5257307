"""Input generators and the closed-form answers the benchmark checks.

JHU workloads: three wide measure CSVs (`Province/State, Country/Region,
Lat, Long` plus one `M/d/yy` column per date) and a lookup CSV with
duplicate `Country_Region` keys, all drawn from `--seed`. Every cell is
`row_term[m][r] + date_term[m][i]`, so each answer the lake query set and
the gate ask for has a closed form in O(rows + dates), computed here without
Spark.

Dedup and index workloads: `documents`, `embeddings` and `customer` tables
shaped like the suite's testdata: at sf0.1's row counts (5000, 2000, 15000)
they give the same near-duplicate pair count and per-layer times as sf0.1
(README.md, "Scale"). They are fixed (generator seed 42), so the ops' output
folds can be pinned.
"""

import datetime
import os
import random

MEASURES = ("confirmed", "deaths", "recovered")
FIRST_DATE = datetime.date(2020, 1, 22)
RANGE_FROM = "2021-01-01 00:00:00"
RANGE_TO = "2021-03-31 00:00:00"
TOP_K = 10
LOOKUP_ROWS = 4300
LOOKUP_COUNTRIES = 400


def missing(measure, r):
    """Rows absent from a measure's CSV (parser2 zero-fills them)."""
    return (measure == "deaths" and r % 10 == 9) or (measure == "recovered" and r % 7 == 6)


class JhuShape:
    """One seeded JHU input: the cell terms and the lookup's rows."""

    def __init__(self, seed, rows, dates):
        rng = random.Random(seed)
        self.rows, self.dates = rows, dates
        self.row_term = {m: [rng.randrange(500) for _ in range(rows)] for m in MEASURES}
        self.date_term = {m: [rng.randrange(500) for _ in range(dates)] for m in MEASURES}
        # Every tenth fact country has no lookup row (absent-key output);
        # the rest appear several times, so first-match order matters.
        matched = [c for c in rng.sample(range(rows), rows) if c % 10 != 5]
        countries = (matched + list(range(rows, rows + LOOKUP_COUNTRIES)))[:LOOKUP_COUNTRIES]
        self.lookup = [
            (f"Country{countries[i % LOOKUP_COUNTRIES]}", f"I{rng.randrange(99)}", i % 90, i % 180)
            for i in range(LOOKUP_ROWS)
        ]
        day = [FIRST_DATE + datetime.timedelta(days=i) for i in range(dates)]
        self.date_cols = [f"{d.month}/{d.day}/{d.year % 100:02d}" for d in day]
        self.date_names = [d.strftime("%Y-%m-%d 00:00:00") for d in day]

    @staticmethod
    def country(r):
        return f"Country{r}"

    @staticmethod
    def province(r):
        return "" if r % 3 == 0 else f"Prov{r % 7}"

    def present(self, m):
        return [r for r in range(self.rows) if not missing(m, r)]

    def cell(self, m, r, i):
        return self.row_term[m][r] + self.date_term[m][i]

    def write(self, directory):
        os.makedirs(directory, exist_ok=True)
        header = "Province/State,Country/Region,Lat,Long," + ",".join(self.date_cols)
        for m in MEASURES:
            with open(os.path.join(directory, f"{m}.csv"), "w") as f:
                f.write(header + "\n")
                for r in self.present(m):
                    rt = self.row_term[m][r]
                    cells = ",".join(str(rt + d) for d in self.date_term[m])
                    f.write(f"{self.province(r)},{self.country(r)},{r % 90},{-(r % 180)},{cells}\n")
        with open(os.path.join(directory, "lookup.csv"), "w") as f:
            f.write("Country_Region,iso2,Lat,Long_\n")
            for row in self.lookup:
                f.write(",".join(str(x) for x in row) + "\n")

    # ---- closed forms --------------------------------------------------

    def measure_sum(self, m):
        rows = self.present(m)
        return self.dates * sum(self.row_term[m][r] for r in rows) + len(rows) * sum(self.date_term[m])

    def first_match_iso2(self):
        first = {}
        for c, iso2, _, _ in self.lookup:
            first.setdefault(c, iso2)
        return first

    def expected(self):
        iso2 = self.first_match_iso2()
        deaths = self.present("deaths")
        d_total = sum(self.date_term["deaths"])
        totals = sorted(
            ((self.dates * self.row_term["deaths"][r] + d_total, self.country(r)) for r in deaths),
            key=lambda t: (-t[0], t[1]),
        )
        in_range = [i for i, n in enumerate(self.date_names) if RANGE_FROM <= n <= RANGE_TO]
        sums = {m: self.measure_sum(m) for m in MEASURES}
        pairs = sorted([self.country(r), iso2.get(self.country(r))] for r in range(self.rows))
        return {
            "latest": [len(deaths), sum(self.cell("deaths", r, self.dates - 1) for r in deaths)],
            "topk": [[c, t] for t, c in totals[:TOP_K]],
            "range": len(in_range) * sum(self.row_term["confirmed"]) + self.rows * sum(self.date_term["confirmed"][i] for i in in_range),
            "lake_sums": sums,
            "lake_counts": {m: len(self.present(m)) for m in MEASURES},
            "lake_records": sum(len(self.present(m)) for m in MEASURES),
            "lake_iso2": pairs,
            "flat_records": self.rows,
            "flat_sums": sums,
            "flat_iso2": pairs,
        }

    def points(self):
        """Output time-series points: records x dates x measures per record."""
        return self.dates * (3 * self.rows + sum(len(self.present(m)) for m in MEASURES))


# ---- dedup / index tables ---------------------------------------------------

VOCAB = (
    "spark window merge table column vector stream value data small join filter big group hash "
    "customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
SF_SEED = 42


def write_sf_tables(directory, docs, vectors, customers):
    """The fixed dedup/index inputs, as parquet in `directory`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(SF_SEED)
    texts = []
    for i in range(docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))))
    langs = rng.choice([l for l, _ in LANGS], size=docs, p=[p for _, p in LANGS])
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(docs), pa.int64()),
            "text": texts,
            "lang": langs.tolist(),
            "source": [f"src{i % 20}" for i in range(docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(directory, "documents.parquet"),
    )
    labels = rng.integers(0, 10, vectors)
    centers = rng.normal(size=(10, 64))
    v = rng.normal(size=(vectors, 64)) + 0.5 * centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(vectors), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }),
        os.path.join(directory, "embeddings.parquet"),
    )
    pq.write_table(
        pa.table({
            "c_custkey": pa.array(range(customers), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(customers)],
            "c_nationkey": pa.array(rng.integers(0, 25, customers), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, customers), 2),
            "c_mktsegment": rng.choice(SEGMENTS, size=customers).tolist(),
        }),
        os.path.join(directory, "customer.parquet"),
    )
