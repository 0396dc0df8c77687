"""Seeded input generators for the benchmark.

Two generators, both pure functions of their seed:

- :func:`gh_hour` writes one GH-Archive hour as a gzipped JSON-lines file,
  shaped like the files https://data.gharchive.org publishes, and returns
  what the pipeline must produce from it (expected gold row counts and id
  sums, and the ids the stream sink must newly receive).
- :func:`lake_tables` writes the TPC-H-like star schema plus the ``events``
  and ``documents`` tables the registry queries read, at a given scale
  factor (sf0.1 = 600k lineitem rows), as one parquet file per table.

Nothing here imports Spark: inputs are made before the engine starts, and
their cost is not part of any reported metric.
"""

from __future__ import annotations

import gzip
import json
import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np

# ---------------------------------------------------------------------------
# GH-Archive hours
# ---------------------------------------------------------------------------

EVENT_TYPES = ["PushEvent", "WatchEvent", "CreateEvent", "IssueCommentEvent",
               "PullRequestEvent", "IssuesEvent", "ForkEvent", "DeleteEvent"]
EVENT_WEIGHTS = [0.45, 0.15, 0.12, 0.08, 0.07, 0.06, 0.04, 0.03]
FIRST_HOUR = datetime(2015, 1, 1, 15, tzinfo=timezone.utc)
FIRST_EVENT_ID = 2_489_651_045


# Records per hour file, duplicates included; README.md ("Hour size and
# shape") gives the reasons for these numbers. The entity pools are large
# enough that most actors and repos of an hour are distinct.
EVENTS_PER_HOUR = 20_000
ACTORS = 60_000
REPOS = 30_000
ORGS = 2_000
# Shape knobs, chosen to give the shape the workload asks for rather than
# measured from GH Archive: most orgs null, a few percent duplicate ids.
ORG_SHARE = 0.2       # share of repos that belong to an org
DUP_WITHIN = 0.02     # records repeating an id of the same hour
DUP_ACROSS = 0.01     # records repeating an id of the hour before


@dataclass
class HourTruth:
    """What landing one hour must produce."""
    hour: int
    path: str
    bronze_bytes: int
    records: int
    gold: dict[str, tuple[int, int]]          # table -> (rows, id sum)
    new_ids: int                              # ids the stream sees first here
    stream_total: tuple[int, int] = (0, 0)    # sink (rows, id sum) after it


def actor(i: int) -> dict:
    """Actor attributes are a function of the actor id."""
    login = f"dev{i:x}"
    return {"id": i, "login": login, "gravatar_id": "",
            "avatar_url": f"https://avatars.githubusercontent.com/u/{i}?",
            "url": f"https://api.github.com/users/{login}"}


def repo(i: int) -> dict:
    name = f"dev{(i * 31) % 50_000:x}/project-{i}"
    return {"id": 20_000_000 + i, "name": name,
            "url": f"https://api.github.com/repos/{name}"}


def repo_org(i: int) -> int | None:
    """The org a repo belongs to, if any (most repos have none)."""
    h = (i * 2_654_435_761) % 2**32
    return (h >> 10) % ORGS if h % 1000 < ORG_SHARE * 1000 else None


def org(i: int) -> dict:
    login = f"org-{i * 7919 % 100_003:05d}"
    oid = 10_000_000 + i
    return {"id": oid, "login": login, "gravatar_id": "",
            "avatar_url": f"https://avatars.githubusercontent.com/u/{oid}?",
            "url": f"https://api.github.com/orgs/{login}"}


def _hot_or_uniform(rng: np.random.Generator, n: int, pool: int,
                    hot: int) -> np.ndarray:
    """A third of the draws hit a small hot set, the rest the whole pool."""
    return np.where(rng.random(n) < 0.33, rng.integers(0, hot, n),
                    rng.integers(0, pool, n))


class GhStream:
    """Generates hour after hour of one seeded GH-Archive stream.

    Hour ``h`` is a function of the seed and ``h`` (its cross-hour
    duplicates repeat records of hour ``h - 1``); the expected sink totals
    accumulate as hours are produced, so hours are produced in order.
    """

    def __init__(self, seed: int, out_dir: str,
                 events: int = EVENTS_PER_HOUR) -> None:
        self.seed, self.out_dir, self.events = seed, out_dir, events
        self._prev: list[tuple] = []
        self._sink_rows = 0
        self._sink_sum = 0
        self._next = 0
        self._json: dict[tuple[str, int], str] = {}
        os.makedirs(out_dir, exist_ok=True)

    def _entity(self, kind: str, i: int | None) -> str:
        """Cached JSON of an entity (its attributes depend on its id only)."""
        if i is None:
            return "null"
        key = (kind, i)
        if key not in self._json:
            make = {"actor": actor, "repo": repo, "org": org}[kind]
            self._json[key] = json.dumps(make(i), separators=(",", ":"))
        return self._json[key]

    def next_hour(self) -> HourTruth:
        h = self._next
        self._next += 1
        rng = np.random.default_rng([self.seed, h])
        start = FIRST_HOUR + timedelta(hours=h)
        n_dup_across = int(self.events * DUP_ACROSS) if self._prev else 0
        n_dup_within = int(self.events * DUP_WITHIN)
        n_fresh = self.events - n_dup_across - n_dup_within
        first_id = FIRST_EVENT_ID + h * self.events
        actors = _hot_or_uniform(rng, n_fresh, ACTORS, 500)
        repos = _hot_or_uniform(rng, n_fresh, REPOS, 300)
        types = rng.choice(len(EVENT_TYPES), n_fresh, p=EVENT_WEIGHTS)
        seconds = np.sort(rng.integers(0, 3600, n_fresh))
        # payload sizes spread over two orders of magnitude: pushes carry
        # 1-20 commits with messages of 1-40 words
        commits = np.minimum(rng.geometric(0.3, n_fresh), 20)
        words = rng.integers(1, 41, n_fresh)
        shas = rng.integers(0, 2**62, n_fresh)
        stamps = [(start + timedelta(seconds=t)).strftime("%Y-%m-%dT%H:%M:%SZ")
                  for t in range(3600)]
        fresh = []
        for k in range(n_fresh):
            etype = EVENT_TYPES[types[k]]
            rid = int(repos[k])
            # payload is a JSON document carried as a JSON string
            if etype == "PushEvent":
                c = (r'{\"sha\":\"%016x\",\"message\":\"%s\",'
                     r'\"distinct\":true}' % (shas[k], "fix " * words[k]))
                payload = (r'"{\"push_id\":%d,\"size\":%d,\"commits\":[%s]}"'
                           % (shas[k] >> 20, commits[k],
                              ",".join([c] * commits[k])))
            else:
                payload = r'"{\"action\":\"started\",\"size\":%d}"' % words[k]
            line = ('{"id":"%d","type":"%s","actor":%s,"repo":%s,'
                    '"payload":%s,"public":true,"created_at":"%s","org":%s}'
                    % (first_id + k, etype,
                       self._entity("actor", int(actors[k])),
                       self._entity("repo", rid), payload,
                       stamps[seconds[k]],
                       self._entity("org", repo_org(rid))))
            fresh.append((first_id + k, int(actors[k]), rid, line))
        records = list(fresh)
        records += [fresh[i] for i in rng.integers(0, n_fresh, n_dup_within)]
        if n_dup_across:
            records += [self._prev[i] for i in
                        rng.integers(0, len(self._prev), n_dup_across)]
        order = rng.permutation(len(records))
        path = os.path.join(self.out_dir,
                            f"{start:%Y-%m-%d}-{start.hour}.json.gz")
        body = "".join(records[i][3] + "\n" for i in order).encode()
        # mtime=0: the gzip header would otherwise stamp the write time, and
        # the same seed must give the same bytes
        with gzip.GzipFile(path, "wb", compresslevel=1, mtime=0) as f:
            f.write(body)
        truth = self._truth(h, path, records, fresh)
        self._prev = fresh
        return truth

    def _truth(self, h: int, path: str, records: list[tuple],
               fresh: list[tuple]) -> HourTruth:
        event_ids = {r[0] for r in records}
        users = {r[1] for r in records}
        repos = {r[2] for r in records}
        orgs = {o for o in (repo_org(r[2]) for r in records)
                if o is not None}
        new_ids = [r[0] for r in fresh]
        self._sink_rows += len(new_ids)
        self._sink_sum += sum(new_ids)
        return HourTruth(
            hour=h, path=path, bronze_bytes=os.path.getsize(path),
            records=len(records),
            gold={"events": (len(event_ids), sum(event_ids)),
                  "users": (len(users), sum(users)),
                  "repos": (len(repos), sum(20_000_000 + r for r in repos)),
                  "organizations": (len(orgs),
                                    sum(10_000_000 + o for o in orgs))},
            new_ids=len(new_ids),
            stream_total=(self._sink_rows, self._sink_sum))


# ---------------------------------------------------------------------------
# lake tables (sf0.1 = 600k lineitem rows)
# ---------------------------------------------------------------------------

LAKE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents")
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_ADJ = ["red", "hot", "new", "small", "large", "blue", "old", "dark"]
_P_NOUN = ["bolt", "ring", "rod", "plate", "anvil", "gear", "pipe", "nut"]
_P_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_EV_TYPES = ["signup", "purchase", "view", "click", "error"]
_WORDS = ("spark window merge table column vector stream value data small "
          "join filter big group hash customer sort order slow line part "
          "fast row the agg key query a scan batch").split()
_LANGS = ["en", "zh", "es", "fr", "de"]


def _days(rng: np.random.Generator, first: str, n_days: int,
          size: int) -> np.ndarray:
    return (np.datetime64(first, "us")
            + rng.integers(0, n_days, size).astype("timedelta64[D]"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 11 and i > 20:       # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, lengths[i])))
    for i in range(n // 600):             # a few exact duplicates
        texts[n - 1 - i] = texts[int(rng.integers(0, n // 2))]
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": list(rng.choice(_LANGS, n, p=[.4, .15, .15, .15, .15])),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def lake_tables(out_dir: str, seed: int, sf: float = 0.1) -> None:
    """Write every table of :data:`LAKE_TABLES` as ``<out_dir>/<t>.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    money = lambda lo, hi, size: np.round(rng.uniform(lo, hi, size), 2)  # noqa: E731
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    tables = {
        "region": {"r_regionkey": i32(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]},
        "nation": {"n_nationkey": i32(range(25)),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32([i % 5 for i in range(25)])},
        "customer": {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": list(rng.choice(_SEGMENTS, n_cust))},
        "supplier": {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [f"{_P_ADJ[a]} {_P_NOUN[b]}" for a, b in
                            rng.integers(0, 8, (n_part, 2))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                 "p_type": list(rng.choice(_P_TYPES, n_part)),
                 "p_size": i32(rng.integers(1, 51, n_part)),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)},
        "orders": {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rng.integers(0, n_cust, n_ord),
                   "o_orderstatus": list(rng.choice(["P", "O", "F"], n_ord)),
                   "o_totalprice": money(1000, 500_000, n_ord),
                   "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
                   "o_orderpriority": list(rng.choice(_PRIORITIES, n_ord))},
        "lineitem": {"l_orderkey": rng.integers(0, n_ord, n_line),
                     "l_partkey": rng.integers(0, n_part, n_line),
                     "l_suppkey": rng.integers(0, n_supp, n_line),
                     "l_linenumber": i32(rng.integers(1, 8, n_line)),
                     "l_quantity": rng.integers(1, 51, n_line).astype(float),
                     "l_extendedprice": money(900, 105_000, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100,
                     "l_tax": rng.integers(0, 9, n_line) / 100,
                     "l_returnflag": list(rng.choice(["N", "R", "A"], n_line)),
                     "l_linestatus": list(rng.choice(["F", "O"], n_line)),
                     "l_shipdate": _days(rng, "1995-01-02", 2499, n_line)},
        "events": {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": np.datetime64("2024-01-01", "us") + np.cumsum(
                       rng.exponential(25.9e6, n_ev)).astype("timedelta64[us]"),
                   "user_id": rng.integers(0, int(15_000 * sf), n_ev),
                   "event_type": list(rng.choice(_EV_TYPES, n_ev)),
                   "value": np.round(rng.exponential(50, n_ev), 2),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        "documents": _documents(rng, n_doc),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(pa.table(cols), tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
