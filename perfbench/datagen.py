"""Seeded inputs for the benchmark.

``write_tables`` writes the ten tables the registry queries read
(``io.TABLES``) with the column types and value domains of the test
tables (TESTDATA.md): a TPC-H-shaped star schema, an ``events`` stream,
a ``documents`` text corpus with planted near-duplicates (each a copy
of an original with its tail edited, so duplicate clusters are stars of
diameter <= 2, the property q75 shares q50's oracle on) and unit-norm
64-d ``embeddings``. Row counts scale like the test tables' ``sf``.

``DocCorpus`` writes the document-ETL request batches in the
reference's ``{Polizas|Tasaciones|Inscripciones}/{Mes Año}/{record}.pdf``
layout and records the ground truth every batch must produce.

The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
PART_ADJ = ("blue", "old", "red", "small", "new", "hot", "large", "cold")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _days(start: str, end: str) -> tuple[np.datetime64, int]:
    lo = np.datetime64(start, "D")
    return lo, int((np.datetime64(end, "D") - lo).astype(int))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    originals: list[str] = []
    for i in range(n):
        if i and rng.random() < 0.05:
            base = originals[rng.integers(len(originals))].split(" ")
            base[-1] = WORDS[rng.integers(len(WORDS))]
            texts.append(" ".join(base) + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
            originals.append(texts[-1])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": [f"src{j}" for j in rng.integers(0, 20, n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (the test tables' sizing)."""
    return {
        "customer": max(30, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(40, int(200_000 * sf)),
        "orders": max(300, int(1_500_000 * sf)),
        "lineitem": max(1_200, int(6_000_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write ``{out_dir}/{table}.parquet`` for every registry table."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part, n_ord = (
        n["customer"], n["supplier"], n["part"], n["orders"]
    )
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
    }
    lo, span = _days("1995-01-01", "2001-08-01")
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": pa.array(
                (lo + rng.integers(0, span + 1, n_ord)).astype("datetime64[us]")
            ),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    n_li = n["lineitem"]
    lo, span = _days("1995-01-02", "2001-11-04")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("O", "F"), n_li),
            "l_shipdate": pa.array(
                (lo + rng.integers(0, span + 1, n_li)).astype("datetime64[us]")
            ),
        }
    )
    n_ev = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(start + offsets.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(0.01 + rng.exponential(20.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    n_emb = n["embeddings"]
    vecs = rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- document-ETL request corpus ------------------------------------------

MESES = (
    "Enero", "Febrero", "Marzo", "Abril", "Mayo", "Junio", "Julio",
    "Agosto", "Septiembre", "Octubre", "Noviembre", "Diciembre",
)
# listing prefix -> (document_type, flow the plan routes it to)
PREFIXES = {
    "Polizas": ("POLICY", "polizas"),
    "Tasaciones": ("APPRAISAL", "tasaciones"),
    "Inscripciones": ("REGISTRATION", "inscripciones"),
}
EMPTY_SHARE = 0.1  # new records whose payload is empty (failed extract)
REDELIVER_SHARE = 0.2  # of each later batch: re-delivered earlier records


def _date(rng) -> str:
    return f"{rng.integers(1, 29):02d}/{rng.integers(1, 13):02d}/{rng.integers(2015, 2025)}"


def _name(rng, kind: str) -> str:
    return f"{kind} {rng.integers(1, 1000)}"


def _fields(rng, prefix: str) -> dict[str, str | None]:
    """Values the fake LLM port extracts (ports.transformer patterns)."""
    if prefix == "Polizas":
        return {
            "policy_number": f"POL-{rng.integers(10**5, 10**6)}",
            # a policy without an insured party: the field is absent, so
            # a re-delivery keeps the earlier value (map merge, new wins)
            "policy_name": _name(rng, "CLIENTE") if rng.random() > 0.1 else None,
            "policy_start_date": _date(rng),
            "policy_end_date": _date(rng),
        }
    if prefix == "Tasaciones":
        return {
            "expert_warranty_name": _name(rng, "ING"),
            "tasacion_date": _date(rng),
            "commercial_value": str(rng.integers(10**4, 10**6)),
            "realization_value": str(rng.integers(10**4, 10**6)),
            "tasacion_owner": _name(rng, "SOC"),
        }
    return {
        "inscription_number": str(rng.integers(1000, 99999)),
        "legal_name": _name(rng, "BANCO"),
        "inscription_date": _date(rng),
    }


def _text(rng, prefix: str, f: dict[str, str | None]) -> str:
    if prefix == "Polizas":
        holder = f" | Asegurado: {f['policy_name']}" if f["policy_name"] else ""
        core = (
            f"POLIZA DE SEGURO {f['policy_number']}{holder} | Vigencia desde el "
            f"{f['policy_start_date']} hasta el {f['policy_end_date']}"
        )
    elif prefix == "Tasaciones":
        core = (
            f"INFORME DE TASACION | Perito: {f['expert_warranty_name']} | "
            f"Fecha de tasacion: {f['tasacion_date']} | Valor comercial: S/ "
            f"{f['commercial_value']} | Valor de realizacion: S/ "
            f"{f['realization_value']} | Propietario: {f['tasacion_owner']}"
        )
    else:
        core = (
            f"Partida N {f['inscription_number']} presentado el "
            f"{f['inscription_date']} a favor de {f['legal_name']}"
        )
    # body length varies (pages of the extract split): lowercase filler
    # words never match the upper-case field patterns
    filler = " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), rng.integers(0, 200)))
    return f"{core} {filler}".strip()


def first_pages(text: str, page_words: int, n_pages: int) -> str:
    """The plan's truncated extract (``document_content_total``)."""
    words = text.split(" ")
    pages = [
        " ".join(words[p * page_words:(p + 1) * page_words])
        for p in range(min(n_pages, -(-len(words) // page_words)))
    ]
    return "\n\n".join(pages)


@dataclass
class Doc:
    record_id: str
    prefix: str
    month: int
    year: int
    text: str
    fields: dict[str, str | None]

    @property
    def ok(self) -> bool:
        return bool(self.text)


@dataclass
class DocCorpus:
    """Seeded request batches plus the state the lake must reach.

    A batch is a directory of request PDFs. An ``EMPTY_SHARE`` of new
    records carry an empty payload (a failed extract; the listing never
    returns these, as Spark's file scan skips zero-byte files); from
    the second batch on a ``REDELIVER_SHARE`` of each batch re-delivers
    earlier successful record ids with fresh field values, so the
    metadata merge takes its update path as well as its insert path.
    """

    root: str
    seed: int
    batch_docs: int
    batches: list[list[Doc]] = field(default_factory=list)

    def __post_init__(self) -> None:
        self._rng = np.random.default_rng(self.seed + 7919)
        self._ok_ids: list[tuple[str, str]] = []
        self._next = 0

    def batch_dir(self, i: int) -> str:
        return os.path.join(self.root, f"batch{i:03d}")

    def _doc(self, record_id: str, prefix: str, empty: bool) -> Doc:
        rng = self._rng
        f = _fields(rng, prefix)
        text = "" if empty else _text(rng, prefix, f)
        return Doc(record_id, prefix, int(rng.integers(1, 13)), int(rng.integers(2018, 2025)), text, f)

    def add_batch(self) -> str:
        """Generate and write the next batch; return its directory."""
        # the seed picks contents; the counts per document type, of
        # re-deliveries and of empty payloads are the same in every batch
        rng = self._rng
        prefixes = list(PREFIXES)
        docs = []
        n_re = int(self.batch_docs * REDELIVER_SHARE) if self.batches else 0
        for k, prefix in enumerate(prefixes):
            pool = [rid for rid, p in self._ok_ids if p == prefix]
            take = min(len(pool), n_re // len(prefixes) + (k < n_re % len(prefixes)))
            docs += [self._doc(pool[i], prefix, empty=False) for i in rng.choice(len(pool), take, replace=False)]
        n_new = self.batch_docs - len(docs)
        empty = set(rng.choice(n_new, round(n_new * EMPTY_SHARE), replace=False).tolist())
        for j in range(n_new):
            rid = f"REC{self.seed}-{self._next:06d}"
            self._next += 1
            doc = self._doc(rid, prefixes[j % len(prefixes)], empty=j in empty)
            if doc.ok:
                self._ok_ids.append((rid, doc.prefix))
            docs.append(doc)
        out = self.batch_dir(len(self.batches))
        for d in docs:
            folder = os.path.join(out, d.prefix, f"{MESES[d.month - 1]} {d.year}")
            os.makedirs(folder, exist_ok=True)
            with open(os.path.join(folder, f"{d.record_id}.pdf"), "wb") as fh:
                fh.write(d.text.encode("utf-8"))
        self.batches.append(docs)
        return out

    def expected_metadata(self, n_batches: int) -> dict[str, dict[str, str]]:
        """record_id -> merged metadata map after the first ``n_batches``."""
        meta: dict[str, dict[str, str]] = {}
        for docs in self.batches[:n_batches]:
            for d in docs:
                if not d.ok:
                    continue
                new = {
                    "document_type": PREFIXES[d.prefix][0],
                    "period_month": str(d.month),
                    "period_year": str(d.year),
                    **{k: v for k, v in d.fields.items() if v is not None},
                }
                meta.setdefault(d.record_id, {}).update(new)
        return meta

    def expected_artifacts(self, n_batches: int, page_words: int, n_pages: int) -> dict[str, str]:
        """record_id -> text artifact content (the latest successful delivery)."""
        out: dict[str, str] = {}
        for docs in self.batches[:n_batches]:
            for d in docs:
                if d.ok:
                    out[d.record_id] = first_pages(d.text, page_words, n_pages)
        return out

