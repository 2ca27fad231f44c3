"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and returns plain data (arrow tables, CSV text, Python rows)
plus the facts the verifier needs. Nothing here touches Spark: the
program under test only ever sees the files these functions write.

* ``bi_tables`` — the TPC-H-ish star schema plus ``events`` that the BI
  queries read, in the same column names and arrow types as the
  engine's test tables, scaled by ``sf``.
* ``ClaimsFeed`` — claims CSV batches in the ``tests/fixtures.py``
  layout, with re-delivered ClaimIDs (updates), malformed rows,
  in-batch duplicates and DQ violations, and the counts each layer
  must end up with.
* ``serving_corpus`` — documents (with planted near-duplicates so the
  LSH pair table is not empty) and label-clustered embeddings.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta

import numpy as np
import pyarrow as pa

# ---------------------------------------------------------------------------
# BI star schema


REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "hot", "large", "red", "small", "green", "ring", "bolt", "nut", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Doubles with exactly two decimals of true precision (the rule
    the engine's exact-decimal aggregates rely on)."""
    return np.round(rng.integers(round(lo * 100), round(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, start: date, end: date, n: int) -> pa.Array:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    offs = rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def bi_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = int(15_000 * sf)

    def keys(n: int) -> pa.Array:
        return pa.array(np.arange(n, dtype=np.int64))

    def pick(choices: list[str], n: int) -> pa.Array:
        return pa.array(np.array(choices, dtype=object)[rng.integers(0, len(choices), n)])

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": keys(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": keys(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    w = np.array(PART_WORDS, dtype=object)
    part = pa.table({
        "p_partkey": keys(n_part),
        "p_name": w[rng.integers(0, 5, n_part)] + " " + w[rng.integers(5, 10, n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    orders = pa.table({
        "o_orderkey": keys(n_ord),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, date(1995, 1, 1), date(2001, 8, 1), n_ord),
        "o_orderpriority": pick(PRIORITIES, n_ord),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days(rng, date(1995, 1, 2), date(2001, 11, 4), n_line),
    })
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, n_evt))
    events = pa.table({
        "event_id": keys(n_evt),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + secs.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt)),
        "event_type": pick(EVENT_TYPES, n_evt),
        "value": _money(rng, 0.0, 560.0, n_evt),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


# ---------------------------------------------------------------------------
# Claims CSV batches (tests/fixtures.py layout)


CLAIMS_HEADER = (
    "ClaimID,PatientID,ProviderID,ClaimAmount,ClaimDate,DiagnosisCode,"
    "ProcedureCode,PatientAge,PatientGender,ProviderSpecialty,ClaimStatus,"
    "PatientIncome,PatientMaritalStatus,PatientEmploymentStatus,"
    "ProviderLocation,ClaimType,ClaimSubmissionMethod"
)
STATUSES = ["Approved", "Denied", "Pending", "Partial"]
CLAIM_TYPES = ["Routine", "Emergency", "Inpatient", "Outpatient", "Urgent Care"]


@dataclass
class Claim:
    amount_cents: int
    day: date
    status: str
    ctype: str


@dataclass
class ClaimsBatch:
    text: str
    split: dict[str, int]  # the bronze 4-way split this batch must produce
    claims: dict[str, Claim]  # what each delivered ClaimID must read as


@dataclass
class ClaimsFeed:
    """Generates batch after batch and keeps the ledger of what every
    layer must hold once the delivered batches have landed."""

    rng: np.random.Generator
    batch_rows: int
    update_share: float = 0.1
    live: dict[str, Claim] = field(default_factory=dict)
    order: list[str] = field(default_factory=list)
    quarantine: dict[str, int] = field(
        default_factory=lambda: {"malformed": 0, "duplicates": 0, "bad_quality": 0}
    )
    n_batches: int = 0

    def _uuid(self) -> str:
        return str(uuid.UUID(bytes=self.rng.bytes(16), version=4))

    def _row(self, cid: str, claim: Claim) -> list[str]:
        r = self.rng.integers
        return [
            cid, self._uuid(), self._uuid(),
            f"{claim.amount_cents / 100:.2f}", claim.day.isoformat(),
            f"D{r(100, 1000)}", f"P{r(100, 1000)}", str(r(0, 121)),
            ["F", "M", "U", "Other"][r(0, 4)],
            ["Cardiology", "Oncology", "Pediatrics"][r(0, 3)],
            claim.status, f"{r(10000, 200001)}.00",
            ["Single", "Married"][r(0, 2)],
            ["Employed", "Unemployed", "Retired"][r(0, 3)],
            ["Boston", "Austin", "Denver"][r(0, 3)],
            claim.ctype, ["Paper", "Online", "Phone"][r(0, 3)],
        ]

    def _claim(self) -> Claim:
        r = self.rng.integers
        return Claim(
            int(r(100, 10_000_000)),
            date(2024, 1, 1) + timedelta(days=int(r(0, 366))),
            STATUSES[r(0, 4)], CLAIM_TYPES[r(0, 5)],
        )

    def next_batch(self) -> ClaimsBatch:
        """The next batch: new claims, updates re-delivering earlier
        ClaimIDs with new business values, in-batch duplicate pairs
        (the later ClaimDate survives), malformed rows and rows that
        break one DQ rule each."""
        n = self.batch_rows
        n_upd = int(n * self.update_share) if self.order else 0
        n_dup = max(1, n // 50)
        n_malformed = max(1, n // 100)
        n_bad = max(1, n // 40)
        n_new = n - n_upd - 2 * n_dup - n_malformed - n_bad
        rows: list[list[str]] = []
        claims: dict[str, Claim] = {}
        for _ in range(n_new):
            cid, c = self._uuid(), self._claim()
            claims[cid] = c
            rows.append(self._row(cid, c))
        picks = self.rng.choice(len(self.order), size=n_upd, replace=False) if n_upd else []
        for i in picks:
            cid, c = self.order[int(i)], self._claim()
            claims[cid] = c
            rows.append(self._row(cid, c))
        for _ in range(n_dup):
            cid, c = self._uuid(), self._claim()
            older = Claim(c.amount_cents, c.day - timedelta(days=30), c.status, c.ctype)
            claims[cid] = c
            rows.append(self._row(cid, older))
            rows.append(self._row(cid, c))
        for i in range(n_malformed):
            r = self._row(self._uuid(), self._claim())
            if i % 2:
                r[3] = "not_a_number"
            else:
                r[4] = "31-31-2024"
            rows.append(r)
        for i in range(n_bad):
            r = self._row(self._uuid(), self._claim())
            kind = i % 6
            if kind == 0:
                r[7] = "150"
            elif kind == 1:
                r[3] = "-10.00"
            elif kind == 2:
                r[8] = "X"
            elif kind == 3:
                r[10] = "Unknown"
            elif kind == 4:
                r[0] = f"bad-id-{self.n_batches}-{i}"
            else:
                r[15], r[16] = "Telehealth", "Fax"
            rows.append(r)
        self.n_batches += 1
        order = self.rng.permutation(len(rows))
        text = CLAIMS_HEADER + "\n" + "\n".join(",".join(rows[i]) for i in order) + "\n"
        split = {"malformed": n_malformed, "duplicates": n_dup,
                 "bad_quality": n_bad, "valid": n_new + n_upd + n_dup}
        return ClaimsBatch(text, split, claims)

    def deliver(self, batch: ClaimsBatch) -> None:
        """Fold a landed batch into the ledger."""
        for cid, c in batch.claims.items():
            if cid not in self.live:
                self.order.append(cid)
            self.live[cid] = c
        for k in self.quarantine:
            self.quarantine[k] += batch.split[k]

    def report(self, key) -> dict:
        """Expected report rows: key(claim) -> (claims, amount, approved,
        denied), the amount exact in cents."""
        out: dict = {}
        for c in self.live.values():
            n, cents, ap, de = out.get(key(c), (0, 0, 0, 0))
            out[key(c)] = (n + 1, cents + c.amount_cents,
                           ap + (c.status == "Approved"), de + (c.status == "Denied"))
        return out


# ---------------------------------------------------------------------------
# Serving corpus


DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def serving_corpus(
    rng: np.random.Generator, n_docs: int, n_vecs: int, dim: int = 64
) -> tuple[pa.Table, pa.Table]:
    """(documents, embeddings). One doc in ten is a near-copy of an
    earlier doc with one token swapped, so near-duplicate pairs exist.
    Embeddings cluster around ten label centres; ``doc_id == vec_id``
    ties each vector to its source document."""
    words = np.array(DOC_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(10, 100)))])
        texts.append(" ".join(toks))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(["de", "en", "es", "fr", "zh"], dtype=object)[rng.integers(0, 5, n_docs)]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0.0, 0.3, (10, dim))
    vecs = (centres[labels] + rng.normal(0.0, 0.1, (n_vecs, dim))).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return docs, emb


def stamp(day: int) -> float:
    """Monotone source mtimes: one simulated hour per landed batch."""
    return datetime(2030, 1, 1).timestamp() + 3600.0 * day
