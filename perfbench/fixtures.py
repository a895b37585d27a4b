"""Seeded inputs for the benchmark workloads.

Every generator is a pure function of ``(seed, index)`` so the same seed
always yields the same backlog, and the benchmark can keep generating
chunks for as long as a run lasts.  Each generated row carries what the
output checks need to know about it (its expected fate), which the engine
never sees.

The five queue-table DDLs are a copy of the schema the engine's SQLite
stand-in uses; the benchmark keeps its own so it depends on nothing under
``tests/``.
"""

from __future__ import annotations

import json
import random
import sqlite3
from dataclasses import dataclass
from datetime import datetime, timedelta

DDL = [
    """CREATE TABLE async_inv_in (
        id INTEGER PRIMARY KEY AUTOINCREMENT, tax_schema TEXT, inv TEXT,
        api_type INTEGER, res_type INTEGER, fpt_einvoice_res_code TEXT,
        fpt_einvoice_res_msg TEXT, fpt_einvoice_res_json TEXT, retry INTEGER,
        state INTEGER, group_id INTEGER, created_date TIMESTAMP,
        updated_date TIMESTAMP, callback_res_code TEXT, callback_res_msg TEXT,
        callback_res_json TEXT, sid TEXT, syncid TEXT, process_kafka TEXT)""",
    """CREATE TABLE async_inv_out (
        id INTEGER PRIMARY KEY AUTOINCREMENT, tax_schema TEXT, gdt_res TEXT,
        sid TEXT, syncid TEXT, retry INTEGER, state INTEGER, group_id INTEGER,
        res_type INTEGER, api_type INTEGER, created_date TIMESTAMP,
        updated_date TIMESTAMP, process_kafka TEXT)""",
    """CREATE TABLE invoice_retry (
        id INTEGER PRIMARY KEY AUTOINCREMENT, sid TEXT, syncid TEXT, job TEXT,
        payload TEXT, error_message TEXT, error_code TEXT, retry_count INTEGER,
        state TEXT, next_retry_time TIMESTAMP, created_at TIMESTAMP,
        updated_at TIMESTAMP)""",
    """CREATE TABLE invoice_error_log (
        id INTEGER PRIMARY KEY AUTOINCREMENT, payload TEXT, error_message TEXT,
        error_code TEXT, attempt INTEGER, sid TEXT, syncid TEXT,
        created_at TIMESTAMP)""",
    """CREATE TABLE async_inv_succ_log (
        id INTEGER PRIMARY KEY AUTOINCREMENT, tax_schema TEXT, api_type INTEGER,
        res_type INTEGER, fpt_einvoice_res_code TEXT, fpt_einvoice_res_msg TEXT,
        retry INTEGER, group_id INTEGER, created_date TIMESTAMP,
        updated_date TIMESTAMP, callback_res_code TEXT, callback_res_msg TEXT,
        sid TEXT, syncid TEXT, gdt_res TEXT)""",
]

#: api_type skew: creates dominate, adjustments are rare.
API_TYPE_WEIGHTS = {10: 60, 11: 15, 12: 10, 13: 10, 14: 5}
#: An api_type outside the engine's 10..14 whitelist.
UNKNOWN_API_TYPE = 99
#: Modulus of the request job's ``group_id = element_index % (4 + 1)``.
GROUP_ID_MODULUS = 5
#: Past due for every claim the benchmark makes.
LONG_AGO = datetime(2020, 1, 1)


def create_db(path: str) -> None:
    """Create an empty queue database at ``path``."""
    conn = sqlite3.connect(path)
    try:
        for ddl in DDL:
            conn.execute(ddl)
        conn.commit()
    finally:
        conn.close()


def _rng(seed: int, stream: str, index: int) -> random.Random:
    return random.Random(f"{seed}/{stream}/{index}")


def _api_type(rng: random.Random) -> int:
    return rng.choices(list(API_TYPE_WEIGHTS), weights=list(API_TYPE_WEIGHTS.values()))[0]


def _lines(rng: random.Random) -> list[dict]:
    return [
        {"name": f"item-{rng.randrange(10_000)}", "qty": rng.randint(1, 20),
         "price": round(rng.uniform(1, 500), 2), "vat": rng.choice([0, 5, 8, 10])}
        for _ in range(rng.randint(1, 5))
    ]


# ---------------------------------------------------------------------------
# request_ingest: request packets
# ---------------------------------------------------------------------------

#: Share of packet elements that are defective, split across the three
#: failure modes below.
REQUEST_DEFECT_RATE = 0.03
#: (error_code, error_message) the engine must attach to each defect mode.
REQUEST_DEFECTS = {
    "stax": ("Exception", "stax is null"),
    "sid": ("Exception", "sid is null"),
    "api_type": ("Exception", "api_type is null"),
}


@dataclass(frozen=True)
class Element:
    """One generated packet element and its expected outcome."""

    sid: str
    syncid: str
    api_type: int | None
    stax: str
    group_id: int
    defect: str | None  # key of REQUEST_DEFECTS, None when valid


def _packet_size(rng: random.Random) -> int:
    """Heavy-tailed 1..50 elements per packet (truncated Pareto)."""
    return min(50, int(rng.paretovariate(1.1)))


def request_batch(seed: int, index: int, invoices: int) -> tuple[list[str], list[Element]]:
    """Micro-batch ``index`` of the request backlog: packet JSON strings
    holding ``invoices`` elements in all (the last packet is cut to fit),
    plus the expected outcome of every element."""
    rng = _rng(seed, "request", index)
    values, elements = [], []
    p = 0
    while len(elements) < invoices:
        pack = []
        p += 1
        for pos in range(min(_packet_size(rng), invoices - len(elements))):
            n = f"{index}-{p}-{pos}"
            sid, syncid, stax = f"S-{n}", f"Y-{n}", f"{rng.randrange(10**9, 10**10)}"
            api_type = _api_type(rng)
            defect = None
            if rng.random() < REQUEST_DEFECT_RATE:
                defect = rng.choice(list(REQUEST_DEFECTS))
            nested = rng.random() < 0.5
            if nested:
                inv = {"sid": sid, "syncid": syncid, "stax": stax,
                       "buyer": f"buyer-{rng.randrange(10**6)}", "lines": _lines(rng)}
                elem = {"api_type": api_type, "inv": inv}
                if defect == "stax":
                    del inv["stax"]
                elif defect == "sid":
                    inv["sid"] = ""
            else:
                elem = {"api_type": api_type, "sid": sid, "syncid": syncid,
                        "stax": stax, "buyer": f"buyer-{rng.randrange(10**6)}",
                        "lines": _lines(rng)}
                if defect == "stax":
                    # top-level form without stax trips the reference's NPE;
                    # keep this mode to the documented "stax is null" path
                    elem["inv"] = {"sid": sid, "syncid": syncid}
                    del elem["sid"], elem["syncid"], elem["stax"]
                elif defect == "sid":
                    elem["sid"] = ""
            if defect == "api_type":
                del elem["api_type"]
            pack.append(elem)
            elements.append(Element(
                sid=sid if defect != "sid" else "",
                syncid=syncid,
                api_type=None if defect == "api_type" else api_type,
                stax=stax, group_id=pos % GROUP_ID_MODULUS, defect=defect,
            ))
        values.append(json.dumps({"inv_pack": pack}))
    return values, elements


# ---------------------------------------------------------------------------
# response_drain: ready queue rows
# ---------------------------------------------------------------------------

#: Share of ready rows that are invalid, split across the modes below.
RESPONSE_INVALID_RATE = 0.04
#: (record_type, error_code, error_message) per invalid mode.
RESPONSE_INVALID = {
    "in_bad_json": ("inv_in", "JsonProcessingException", None),
    "out_null_gdt": ("inv_out", "Exception", "gdt_res is null"),
    "out_bad_json": ("inv_out", "JsonProcessingException", None),
    "unknown_api": (None, "Exception", f"Unknown api_type: {UNKNOWN_API_TYPE}"),
}
#: Fixed in/out mix: inv_in rows per inv_out row is IN_SHARE / (1 - IN_SHARE).
IN_SHARE = 0.6


@dataclass(frozen=True)
class ReadyRow:
    """One generated ready row and its expected outcome."""

    record_type: str
    sid: str
    syncid: str
    api_type: int
    invalid: str | None  # key of RESPONSE_INVALID, None when valid


_IN_COLS = ("tax_schema, inv, api_type, res_type, fpt_einvoice_res_code, "
            "fpt_einvoice_res_msg, fpt_einvoice_res_json, retry, state, group_id, "
            "created_date, sid, syncid")
_OUT_COLS = ("tax_schema, gdt_res, sid, syncid, retry, state, group_id, res_type, "
             "api_type, created_date")


def ready_rows(seed: int, index: int, rows: int) -> list[ReadyRow]:
    """Chunk ``index`` of the response backlog: ``rows`` ready rows, with the
    in/out mix and invalid share fixed."""
    rng = _rng(seed, "response", index)
    n_in = round(rows * IN_SHARE)
    out = []
    for i in range(rows):
        record_type = "inv_in" if i < n_in else "inv_out"
        invalid = None
        if rng.random() < RESPONSE_INVALID_RATE:
            choices = [k for k, (rt, _, _) in RESPONSE_INVALID.items()
                       if rt in (None, record_type)]
            invalid = rng.choice(choices)
        api_type = UNKNOWN_API_TYPE if invalid == "unknown_api" else _api_type(rng)
        n = f"{index}-{i}"
        out.append(ReadyRow(record_type, f"R-{n}", f"RY-{n}", api_type, invalid))
    return out


def insert_ready_rows(conn: sqlite3.Connection, seed: int, index: int,
                      rows: list[ReadyRow]) -> None:
    """Write ``rows`` into ``async_inv_in`` (res_type=2, state=4) and
    ``async_inv_out`` (res_type=2, state=0) as the external services would."""
    rng = _rng(seed, "response-body", index)
    created = datetime(2026, 1, 1) + timedelta(minutes=index)
    ins, outs = [], []
    for r in rows:
        body = json.dumps({"invoice_no": rng.randrange(10**7), "serial": "C26TAA",
                           "status": rng.choice(["issued", "signed"]),
                           "lines": _lines(rng)})
        stax = f"{rng.randrange(10**9, 10**10)}"
        group_id = rng.randrange(GROUP_ID_MODULUS)
        if r.record_type == "inv_in":
            failed = rng.random() < 0.1
            ins.append((
                stax, json.dumps({"sid": r.sid, "stax": stax}), r.api_type, 2,
                "E1" if failed else "00", "rejected by provider" if failed else None,
                "{not json" if r.invalid == "in_bad_json" else body,
                0, 4, group_id, created, r.sid, r.syncid,
            ))
        else:
            gdt = {"out_null_gdt": None, "out_bad_json": "{not json"}.get(r.invalid, body)
            outs.append((stax, gdt, r.sid, r.syncid, 0, 0, group_id, 2, r.api_type, created))
    conn.executemany(f"INSERT INTO async_inv_in ({_IN_COLS}) VALUES "
                     f"({', '.join('?' * 13)})", ins)
    conn.executemany(f"INSERT INTO async_inv_out ({_OUT_COLS}) VALUES "
                     f"({', '.join('?' * 10)})", outs)


# ---------------------------------------------------------------------------
# retry_churn: due retry-queue rows
# ---------------------------------------------------------------------------

#: Outcome mix of retry payloads: succeeds now, keeps failing until it is
#: dead-lettered, or is already past ``app.max.retries``.
RETRY_KINDS = {"ok": 50, "fail": 30, "max": 20}


@dataclass(frozen=True)
class RetryRow:
    """One generated retry-queue row and the outcome its payload leads to."""

    job: str
    sid: str
    syncid: str
    kind: str
    retry_count: int
    payload: str


def retry_rows(seed: int, index: int, rows: int, max_retries: int) -> list[RetryRow]:
    """Chunk ``index`` of the retry backlog: ``rows`` due rows, half per job."""
    rng = _rng(seed, "retry", index)
    out = []
    for i in range(rows):
        job = "REQUEST" if i % 2 == 0 else "RESPONSE"
        kind = rng.choices(list(RETRY_KINDS), weights=list(RETRY_KINDS.values()))[0]
        n = f"{index}-{i}"
        sid, syncid = f"Q-{kind}-{n}", f"QY-{n}"
        count = (max_retries + 1 + rng.randrange(2) if kind == "max"
                 else rng.randrange(max_retries + 1))
        api_type = _api_type(rng)
        if job == "REQUEST":
            elem = {"api_type": api_type, "sid": sid, "syncid": syncid,
                    "stax": f"{rng.randrange(10**9, 10**10)}", "lines": _lines(rng)}
            if kind == "fail":
                elem["sid"] = ""
            payload = json.dumps(elem)
        else:
            gdt = (None if kind == "fail" else
                   json.dumps({"mccqt": f"M{rng.randrange(10**8)}", "status": "accepted"}))
            payload = json.dumps({
                "id": 10**9 + index * 10**5 + i, "tax_schema": "0101", "gdt_res": gdt,
                "sid": sid, "syncid": syncid, "retry": 0, "state": 0, "group_id": 1,
                "res_type": 2, "api_type": api_type, "created_date": None,
                "updated_date": None, "process_kafka": None,
            })
        out.append(RetryRow(job, sid, syncid, kind, count, payload))
    return out


def insert_retry_rows(conn: sqlite3.Connection, rows: list[RetryRow]) -> None:
    """Enqueue ``rows`` as PENDING and already due."""
    conn.executemany(
        "INSERT INTO invoice_retry (sid, syncid, job, payload, error_message, "
        "error_code, retry_count, state, next_retry_time) "
        "VALUES (?, ?, ?, ?, 'upstream failure', 'Exception', ?, 'PENDING', ?)",
        [(r.sid, r.syncid, r.job, r.payload, r.retry_count, LONG_AGO) for r in rows],
    )


# ---------------------------------------------------------------------------
# analytics_mix: the tables the query slice reads
# ---------------------------------------------------------------------------

#: Rows per generated table, the size of the sf0.01 testdata tables.
ANALYTICS_ROWS = {"events": 10_000, "documents": 500, "embeddings": 500}
EVENT_TYPES = {"view": 40, "click": 30, "purchase": 10, "signup": 5, "error": 15}
EVENT_USERS = 150
DOC_WORDS = ("a the data spark table row column value key hash join merge sort "
             "scan filter group agg order line part customer query batch stream "
             "window vector big small fast slow").split()
DOC_LANGS = {"en": 60, "es": 10, "de": 10, "fr": 10, "zh": 10}
DOC_SOURCES = 20
EMBEDDING_DIM = 64
EMBEDDING_LABELS = 10


def analytics_tables(seed: int, out_dir: str) -> None:
    """Write ``events``, ``documents`` and ``embeddings`` parquet files in
    the testdata schema to ``out_dir``.  Users are Zipf-skewed, a tenth of
    the documents copy or edit an earlier one, and embeddings cluster by
    label with a few near-duplicates, so the dedup, skew and similarity
    queries find something."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, "analytics", 0)
    n = ANALYTICS_ROWS["events"]
    start = datetime(2024, 1, 1)
    span_us = 30 * 86_400 * 10**6
    ts = sorted(start + timedelta(microseconds=rng.randrange(span_us)) for _ in range(n))
    users = [1 / (u + 1) for u in range(EVENT_USERS)]
    events = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.choices(range(EVENT_USERS), weights=users, k=n), pa.int64()),
        "event_type": rng.choices(list(EVENT_TYPES), weights=list(EVENT_TYPES.values()), k=n),
        "value": [max(0.01, round(rng.lognormvariate(3.5, 1.0), 2)) for _ in range(n)],
        "props": [json.dumps({"k": rng.randrange(100)}) for _ in range(n)],
    })
    pq.write_table(events, f"{out_dir}/events.parquet")

    texts = []
    for i in range(ANALYTICS_ROWS["documents"]):
        roll = rng.random()
        if texts and roll < 0.05:
            text = rng.choice(texts)  # exact copy
        elif texts and roll < 0.10:
            words = rng.choice(texts).split()  # near copy: one word changed
            words[rng.randrange(len(words))] = rng.choice(DOC_WORDS)
            text = " ".join(words)
        else:
            text = " ".join(rng.choices(DOC_WORDS, k=rng.randint(8, 90)))
        texts.append(text)
    documents = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": rng.choices(list(DOC_LANGS), weights=list(DOC_LANGS.values()), k=len(texts)),
        "source": [f"src{rng.randrange(DOC_SOURCES)}" for _ in texts],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(documents, f"{out_dir}/documents.parquet")

    centers = [[rng.gauss(0, 1) for _ in range(EMBEDDING_DIM)] for _ in range(EMBEDDING_LABELS)]
    vecs, labels = [], []
    for _ in range(ANALYTICS_ROWS["embeddings"]):
        if vecs and rng.random() < 0.05:
            i = rng.randrange(len(vecs))  # near-duplicate of an earlier vector
            v, label = [x + rng.gauss(0, 0.01) for x in vecs[i]], labels[i]
        else:
            label = rng.randrange(EMBEDDING_LABELS)
            v = [c + rng.gauss(0, 2.5) for c in centers[label]]
        norm = sum(x * x for x in v) ** 0.5
        vecs.append([x / norm for x in v])
        labels.append(label)
    embeddings = pa.table({
        "vec_id": pa.array(range(len(vecs)), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    pq.write_table(embeddings, f"{out_dir}/embeddings.parquet")
