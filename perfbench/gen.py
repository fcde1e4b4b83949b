"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and a destination
directory, writes plain files (parquet or CSV) and returns the number of
bytes it wrote. The engine only ever sees these files.

The shapes follow the repository's own fixtures:

- I94 inputs (``FIXTURES.md`` §1-4): immigration parquet with the
  reference's 28 columns and value domains, ``;``-separated
  demographics CSV, all-string temperature CSV whose mixed-case country
  names only match the upper-case lookup after case normalisation, and
  the 3-digit country lookup.
- Relational tables: the ``TESTDATA.md`` TPC-H-like star schema
  (region .. lineitem) plus ``events``, with the same columns, types and
  value ranges as the sf0.1 tables, scaled by ``sf``.
- Corpus: word-salad documents over the sf0.1 vocabulary with uniform
  10-100 word lengths, ~5% planted near-duplicates (10% of words
  mutated) and ~0.2% exact duplicates (the model of
  ``scripts/sf1_probe.py::generate``).
- Embeddings: unit-norm 64-d float32 vectors from a 10-label Gaussian
  model whose centroid and residual scales were fitted to the sf0.1
  embeddings (centroid element std 0.0089, residual std 0.125).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq


def _write_parquet(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _write_csv(table: pa.Table, path: str, sep: str = ",") -> int:
    pacsv.write_csv(
        table,
        path,
        write_options=pacsv.WriteOptions(delimiter=sep, quoting_style="needed"),
    )
    return os.path.getsize(path)


def _nullable(values, null_mask) -> pa.Array:
    return pa.array(values, mask=null_mask)


def _decimal_strings(values, places: int, suffix: str = "") -> pa.Array:
    text = pc.cast(pa.array(np.round(values, places)), pa.string())
    return pc.binary_join_element_wise(text, suffix, "") if suffix else text


def _pick(rng, choices, n, p=None):
    return np.asarray(choices, dtype=object)[rng.choice(len(choices), size=n, p=p)]


# --------------------------------------------------------------------------
# I94 (star_etl)

_SYLLABLES = ["ka", "lo", "ve", "ri", "sta", "mon", "ta", "ne", "gu", "ar", "dor", "bel"]
_STATES = [
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "FL", "GA", "HI", "ID", "IL",
    "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN", "MS", "MO", "MT",
    "NE", "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH", "OK", "OR", "PA", "RI",
    "SC", "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV", "WI", "WY",
]
_RACES = [
    "White", "Hispanic or Latino", "Asian", "Black or African-American",
    "American Indian and Alaska Native",
]
_PORTS = ["NYC", "HHW", "MIA", "LOS", "SFR", "CHI", "ATL", "NEW", "WAS", "HOU",
          "DAL", "BOS", "SEA", "ORL", "FTL", "SAI", "PHI", "DET", "LVG", "AGA"]
_VISATYPES = ["B1", "B2", "WT", "WB", "F1", "E2", "F2", "GMT", "M1", "CP"]
_AIRLINES = ["DL", "TK", "AA", "UA", "BA", "LH", "AF", "VS", "EK", "QR"]

N_COUNTRIES = 289
N_DEMOGRAPHICS = 2891
# SAS day offsets of 2016-04-01 .. 2016-04-30
ARRDATE_FIRST = 20545


def _country_names(rng) -> list[str]:
    names: set[str] = set()
    while len(names) < N_COUNTRIES:
        k = int(rng.integers(2, 5))
        names.add("".join(_SYLLABLES[j] for j in rng.integers(0, len(_SYLLABLES), k)).upper())
    return sorted(names)


def gen_i94(rng, dst: str, n_immigration: int, n_temperature: int) -> int:
    """Write immigration.parquet, demographics.csv, temperature.csv and
    country_lookup.csv into ``dst``; return their total size in bytes."""
    os.makedirs(dst, exist_ok=True)
    names = _country_names(rng)
    codes = rng.choice(np.arange(101, 761), size=N_COUNTRIES, replace=False)
    nbytes = 0

    lookup = pa.table({"Code": pa.array(codes, pa.int32()), "I94CTRY": pa.array(names)})
    nbytes += _write_csv(lookup, os.path.join(dst, "country_lookup.csv"))

    # Temperature rows name countries in title case; about one in five
    # names has no lookup match at all.
    temp_names = [n.title() for n in names] + [
        f"Unlisted{i}" for i in range(N_COUNTRIES // 5)
    ]
    n = n_temperature
    temp_null = rng.random(n) < 0.05
    months = rng.integers(0, 12 * 270, n)
    temps = pa.table(
        {
            "dt": pa.array(
                (np.datetime64("1743-01", "M") + months).astype("datetime64[D]").astype(str)
            ),
            "AverageTemperature": pc.if_else(
                temp_null, None, _decimal_strings(rng.normal(12.0, 9.0, n), 3)
            ),
            "AverageTemperatureUncertainty": pc.if_else(
                temp_null, None, _decimal_strings(rng.uniform(0.05, 3.0, n), 3)
            ),
            "City": pa.array(_pick(rng, [f"City{i}" for i in range(400)], n)),
            "Country": pa.array(_pick(rng, temp_names, n)),
            "Latitude": _decimal_strings(rng.uniform(0, 70, n), 2, "N"),
            "Longitude": _decimal_strings(rng.uniform(0, 180, n), 2, "E"),
        }
    )
    nbytes += _write_csv(temps, os.path.join(dst, "temperature.csv"))

    # Demographics: one row per (city, race); the measures repeat within
    # a city, as in the reference file.
    n_cities = N_DEMOGRAPHICS // len(_RACES) + 1
    city_state = rng.integers(0, len(_STATES), n_cities)
    rows = [(c, r) for c in range(n_cities) for r in range(len(_RACES))]
    keep = np.sort(rng.choice(len(rows), size=N_DEMOGRAPHICS, replace=False))
    cities = np.array([rows[i][0] for i in keep])
    races = np.array([rows[i][1] for i in keep])
    male = rng.integers(10_000, 2_000_000, n_cities)
    female = rng.integers(10_000, 2_000_000, n_cities)
    demo = pa.table(
        {
            "City": pa.array([f"Town{c}" for c in cities.tolist()]),
            "State": pa.array([f"State of {_STATES[city_state[c]]}" for c in cities.tolist()]),
            "Median Age": pa.array(np.round(rng.uniform(25, 50, n_cities), 1)[cities]),
            "Male Population": pa.array(male[cities]),
            "Female Population": pa.array(female[cities]),
            "Total Population": pa.array((male + female)[cities]),
            "Number of Veterans": pa.array(rng.integers(100, 100_000, n_cities)[cities]),
            "Foreign-born": pa.array(rng.integers(100, 500_000, n_cities)[cities]),
            "Average Household Size": pa.array(np.round(rng.uniform(2, 4, n_cities), 2)[cities]),
            "State Code": pa.array([_STATES[city_state[c]] for c in cities.tolist()]),
            "Race": pa.array([_RACES[r] for r in races.tolist()]),
            "Count": pa.array(rng.integers(100, 1_000_000, N_DEMOGRAPHICS)),
        }
    )
    nbytes += _write_csv(demo, os.path.join(dst, "demographics.csv"), sep=";")

    n = n_immigration

    def sparse(values, null_frac):
        return _nullable(values, rng.random(n) < null_frac)

    arrdate = (ARRDATE_FIRST + rng.integers(0, 30, n)).astype(np.float64)
    age = rng.integers(0, 95, n).astype(np.float64)
    mode = rng.choice([1.0, 2.0, 3.0, 9.0], size=n, p=[0.9, 0.03, 0.05, 0.02])
    imm = pa.table(
        {
            "cicid": pa.array((5_000_000 + rng.permutation(n)).astype(np.float64)),
            "i94yr": pa.array(np.full(n, 2016.0)),
            "i94mon": pa.array(np.full(n, 4.0)),
            "i94cit": pa.array(codes[rng.integers(0, N_COUNTRIES, n)].astype(np.float64)),
            "i94res": pa.array(codes[rng.integers(0, N_COUNTRIES, n)].astype(np.float64)),
            "i94port": pa.array(_pick(rng, _PORTS, n)),
            "arrdate": sparse(arrdate, 0.01),
            "i94mode": sparse(mode, 0.005),
            "i94addr": sparse(_pick(rng, _STATES + ["XX", "99"], n), 0.05),
            "depdate": sparse(arrdate + rng.integers(1, 60, n), 0.05),
            "i94bir": pa.array(age),
            "i94visa": pa.array(rng.choice([1.0, 2.0, 3.0], size=n, p=[0.15, 0.8, 0.05])),
            "count": pa.array(np.ones(n)),
            "dtadfile": pa.array(np.full(n, "20160430", dtype=object)),
            "visapost": sparse(_pick(rng, ["SEO", "BNS", "MEX", "BGT"], n), 0.61),
            "occup": sparse(_pick(rng, ["STU", "RET", "OTH"], n), 0.99),
            "entdepa": pa.array(_pick(rng, ["G", "O", "T", "Z"], n)),
            "entdepd": sparse(_pick(rng, ["O", "R", "K"], n), 0.05),
            "entdepu": sparse(np.full(n, "U", dtype=object), 0.99),
            "matflag": sparse(np.full(n, "M", dtype=object), 0.05),
            "biryear": pa.array(2016.0 - age),
            "dtaddto": pa.array(_pick(rng, ["10292016", "07152016", "D/S"], n)),
            "gender": sparse(_pick(rng, ["F", "M"], n), 0.1),
            "insnum": sparse(np.full(n, "3668", dtype=object), 0.96),
            "airline": sparse(_pick(rng, _AIRLINES, n), 0.03),
            "admnum": pa.array(
                rng.integers(50_000_000_000, 50_000_000_000 + n, n).astype(np.float64)
            ),
            "fltno": sparse(_pick(rng, ["00469", "00028", "LAND"], n), 0.7),
            "visatype": pa.array(_pick(rng, _VISATYPES, n)),
        }
    )
    nbytes += _write_parquet(imm, os.path.join(dst, "immigration.parquet"))
    return nbytes


# --------------------------------------------------------------------------
# Relational tables (catalog)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLORS = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
_NOUNS = ["bolt", "plate", "rod", "anvil", "widget", "gizmo", "ring", "gear"]
_PTYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
_EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_DAY0 = np.datetime64("1995-01-01")
_ORDER_DAYS = int((np.datetime64("2001-08-01") - _DAY0).astype(int))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_relational(rng, dst: str, sf: float) -> int:
    """Write the eight relational catalog tables at scale factor ``sf``;
    return their total size in bytes."""
    os.makedirs(dst, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_evt = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(50, int(15_000 * sf))
    ts = pa.timestamp("us")
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array(_pick(rng, _SEGMENTS, n_cust)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": pa.array(
                    [
                        f"{_COLORS[a]} {_NOUNS[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, n_part).tolist(),
                            rng.integers(0, 8, n_part).tolist(),
                        )
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{i}" for i in rng.integers(1, 26, n_part).tolist()]
                ),
                "p_type": pa.array(_pick(rng, _PTYPES, n_part)),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": pa.array(
                    np.round(900.0 + rng.integers(0, 1000, n_part) / 10.0, 2)
                ),
            }
        ),
    }
    order_day = rng.integers(0, _ORDER_DAYS + 1, n_ord)
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(rng.permutation(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(_pick(rng, ["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": pa.array((_DAY0 + order_day).astype("datetime64[us]"), ts),
            "o_orderpriority": pa.array(_pick(rng, _PRIORITIES, n_ord)),
        }
    )
    # Line items point at random orders (some orders get none), ship
    # 1-120 days after the order and may repeat a line number, like the
    # driver's lineitem.
    okeys = tables["orders"]["o_orderkey"].to_numpy()
    line_order = rng.integers(0, n_ord, n_line)
    ship_day = order_day[line_order] + rng.integers(1, 121, n_line)
    flags = rng.integers(0, 6, n_line)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okeys[line_order], pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["N", "A", "R"], dtype=object)[flags // 2]),
            "l_linestatus": pa.array(np.array(["O", "F"], dtype=object)[flags % 2]),
            "l_shipdate": pa.array((_DAY0 + ship_day).astype("datetime64[us]"), ts),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    evt_us = np.sort(rng.integers(0, month_us, n_evt))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01T00:00:00", "us") + evt_us.astype("timedelta64[us]"),
                ts,
            ),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": pa.array(_pick(rng, _EVENT_TYPES, n_evt)),
            "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt).tolist()]),
        }
    )
    return sum(
        _write_parquet(t, os.path.join(dst, f"{name}.parquet")) for name, t in tables.items()
    )


# --------------------------------------------------------------------------
# Corpus and embeddings (catalog)

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window",
]
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.412, 0.15, 0.14, 0.149, 0.149]
EMBED_DIM = 64
N_LABELS = 10


def gen_corpus(rng, dst: str, n_docs: int) -> int:
    """Write documents.parquet; return its size in bytes."""
    os.makedirs(dst, exist_ok=True)
    vocab = np.asarray(VOCAB, dtype=object)
    docs: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.002:
            docs.append(docs[int(rng.integers(0, i))])
        elif i > 10 and r < 0.05:
            words = docs[int(rng.integers(0, i))].split()
            k = max(1, len(words) // 10)
            for p in rng.choice(len(words), size=k, replace=False):
                words[p] = vocab[rng.integers(0, len(vocab))]
            docs.append(" ".join(words))
        else:
            docs.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(docs),
            "lang": pa.array(_pick(rng, _LANGS, n_docs, p=_LANG_P)),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n_docs).tolist()]),
            "n_chars": pa.array([len(d) for d in docs], pa.int64()),
        }
    )
    return _write_parquet(table, os.path.join(dst, "documents.parquet"))


def embedding_matrix(rng, n_vectors: int) -> tuple[np.ndarray, np.ndarray]:
    """Unit-norm float32 vectors and their labels."""
    centroids = rng.normal(0.0, 0.0089, (N_LABELS, EMBED_DIM))
    labels = rng.integers(0, N_LABELS, n_vectors)
    mat = centroids[labels] + rng.normal(0.0, 0.125, (n_vectors, EMBED_DIM))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    return mat.astype(np.float32), labels.astype(np.int32)


def gen_embeddings(rng, dst: str, n_vectors: int) -> int:
    """Write embeddings.parquet; return its size in bytes."""
    os.makedirs(dst, exist_ok=True)
    mat, labels = embedding_matrix(rng, n_vectors)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vectors), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(mat.ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return _write_parquet(table, os.path.join(dst, "embeddings.parquet"))
