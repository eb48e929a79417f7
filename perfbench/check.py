"""Output checks, run outside every timed region.

* ``headline``: each key's collected result must hash-equal its
  registered DuckDB oracle over the same generated files, with the
  canonicalization of ``tools/verify_local.py``.  A key whose oracle is
  brute-force all-pairs (verify_local's ``SCALE_TWINS``; of the
  benchmark's keys, ``dedup_minhash``) is checked on a content-keyed
  document sample at every size: Spark output pairs are kept only when
  both endpoints are sampled, and the unmodified oracle runs over the
  sampled ``documents`` view.  Over all 400 documents that oracle takes
  5-6 s of DuckDB, over the sample well under 1 s.
* ``replicate``: the landed RowBinary payloads are decoded here, with a
  decoder written from the public format spec (not the program's), and
  compared in DuckDB with the generated changelog:
  - per micro-batch, the landed rows equal the batch's FINAL
    (``ROW_NUMBER() OVER (PARTITION BY pk ORDER BY seq DESC) = 1``),
    so no row is lost or landed twice;
  - across batches, the FINAL of everything landed equals the FINAL of
    the whole changelog.
"""

from __future__ import annotations

import os
import struct

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from tools.verify_local import SCALE_TWINS, TABLES, _hash_rows

#: content-keyed document sample for the all-pairs oracles: 1 in 4
#: documents, keyed on the text prefix so a near-duplicate and its
#: source (which share the prefix) are sampled together.
TWIN_SAMPLE = "hash(substr(text, 1, 30)) % 4 = 1"

#: wire types of the replicated changelog rows (op, pk, seq, value).
WIRE_TYPES = ["Nullable(String)", "Nullable(Int64)", "Nullable(Int64)", "Nullable(Float64)"]


class HeadlineOracle:
    """DuckDB oracles over one generated fixture directory."""

    def __init__(self, fixture_dir: str, oracles: dict[str, str]) -> None:
        self.oracles = oracles
        self.con = duckdb.connect()
        self.sample = duckdb.connect()
        for t in TABLES:
            src = f"read_parquet('{fixture_dir}/{t}.parquet')"
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
            pred = f" WHERE {TWIN_SAMPLE}" if t == "documents" else ""
            self.sample.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}{pred}")
        self._sample_ids: set | None = None
        self._expected: dict[str, tuple[list[str], str, int]] = {}

    def expected(self, key: str) -> tuple[list[str], str, int]:
        """(columns, row hash, row count) of the oracle's answer."""
        if key not in self._expected:
            con = self.sample if key in SCALE_TWINS else self.con
            res = con.execute(self.oracles[key])
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            if key in SCALE_TWINS and not rows:
                raise ValueError(f"{key}: sampled oracle is empty; the check would be vacuous")
            self._expected[key] = (cols, _hash_rows(cols, rows), len(rows))
        return self._expected[key]

    def verify(self, key: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when ``rows`` match the oracle, else a one-line problem."""
        if key in SCALE_TWINS:
            if self._sample_ids is None:
                self._sample_ids = {
                    r[0] for r in self.sample.execute("SELECT doc_id FROM documents").fetchall()
                }
            ia, ib = (cols.index(c) for c in SCALE_TWINS[key])
            rows = [r for r in rows if r[ia] in self._sample_ids and r[ib] in self._sample_ids]
        ocols, ohash, on = self.expected(key)
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != on:
            return f"{len(rows)} rows != oracle {on}"
        if _hash_rows(cols, rows) != ohash:
            return "value hash differs from oracle"
        return None

    def close(self) -> None:
        self.con.close()
        self.sample.close()


# --- RowBinary, decoded from the public format spec --------------------

_I64 = struct.Struct("<q")
_F64 = struct.Struct("<d")


def _varint(buf: bytes, pos: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def decode_changelog_payload(buf: bytes) -> list[tuple]:
    """RowBinary rows of (Nullable(String), Nullable(Int64) x2,
    Nullable(Float64)) -> tuples; raises on a truncated payload."""
    rows = []
    pos = 0
    end = len(buf)
    while pos < end:
        row = []
        for kind in ("s", "i", "i", "f"):
            flag = buf[pos]
            pos += 1
            if flag == 1:
                row.append(None)
                continue
            if flag != 0:
                raise ValueError(f"bad Nullable flag {flag} at {pos - 1}")
            if kind == "s":
                n, pos = _varint(buf, pos)
                row.append(buf[pos:pos + n].decode("utf-8"))
                pos += n
            elif kind == "i":
                row.append(_I64.unpack_from(buf, pos)[0])
                pos += 8
            else:
                row.append(_F64.unpack_from(buf, pos)[0])
                pos += 8
        if pos > end:
            raise ValueError("truncated RowBinary row")
        rows.append(tuple(row))
    return rows


def landed_rows(sink: str) -> tuple[pa.Table, int, int]:
    """Decode every payload under ``sink/batch_id=<b>/``; return the rows
    as an Arrow table (batch_id, op, pk, seq, value), the payload bytes
    and the payload row count the encoder declared."""
    cols: dict[str, list] = {k: [] for k in ("batch_id", "op", "pk", "seq", "value")}
    nbytes = declared = 0
    for entry in sorted(os.listdir(sink)):
        if not entry.startswith("batch_id="):
            continue
        bid = int(entry.split("=", 1)[1])
        part = os.path.join(sink, entry)
        for f in sorted(os.listdir(part)):
            if not f.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(part, f), columns=["payload", "n_rows"])
            declared += sum(t.column("n_rows").to_pylist())
            for payload in t.column("payload").to_pylist():
                nbytes += len(payload)
                for op, pk, seq, value in decode_changelog_payload(payload):
                    cols["batch_id"].append(bid)
                    cols["op"].append(op)
                    cols["pk"].append(pk)
                    cols["seq"].append(seq)
                    cols["value"].append(value)
    table = pa.table({
        "batch_id": pa.array(cols["batch_id"], pa.int64()),
        "op": pa.array(cols["op"], pa.string()),
        "pk": pa.array(cols["pk"], pa.int64()),
        "seq": pa.array(cols["seq"], pa.int64()),
        "value": pa.array(cols["value"], pa.float64()),
    })
    return table, nbytes, declared


_CHANGELOG = """
SELECT CASE WHEN event_type = 'signup' THEN 'insert'
            WHEN event_type = 'error'  THEN 'delete'
            ELSE 'update' END AS op,
       user_id AS pk, event_id AS seq, value
FROM read_parquet('{path}')
"""


def check_replication(events_parquet: str, batches: list[tuple[int, int]],
                      landed: pa.Table) -> tuple[set[int], bool]:
    """Compare landed rows with the generated changelog.

    ``batches`` is [(batch_id, input rows)] in commit order; the log is
    in seq order (seq = 0..n-1), so batch b holds the seqs between the
    running totals.  Returns the batch ids whose landed rows differ from
    the batch's FINAL, and whether the cross-batch FINAL matches."""
    con = duckdb.connect()
    try:
        con.register("landed", landed)
        bounds = pa.table({
            "batch_id": pa.array([b for b, _ in batches], pa.int64()),
            "n": pa.array([n for _, n in batches], pa.int64()),
        })
        con.register("bounds", bounds)
        con.execute(f"CREATE TEMP VIEW log AS {_CHANGELOG.format(path=events_parquet)}")
        con.execute("""
            CREATE TEMP TABLE cuts AS
            SELECT batch_id, SUM(n) OVER (ORDER BY batch_id) - n AS lo,
                   SUM(n) OVER (ORDER BY batch_id) AS hi
            FROM bounds""")
        con.execute("""
            CREATE TEMP TABLE expected AS
            SELECT c.batch_id, l.op, l.pk, l.seq, l.value
            FROM log l JOIN cuts c ON l.seq >= c.lo AND l.seq < c.hi
            QUALIFY ROW_NUMBER() OVER (PARTITION BY c.batch_id, l.pk ORDER BY l.seq DESC) = 1""")
        bad = {
            r[0] for r in con.execute("""
                SELECT batch_id FROM (
                  (SELECT batch_id, op, pk, seq, value FROM expected
                   EXCEPT ALL SELECT batch_id, op, pk, seq, value FROM landed)
                  UNION ALL
                  (SELECT batch_id, op, pk, seq, value FROM landed
                   EXCEPT ALL SELECT batch_id, op, pk, seq, value FROM expected))
                GROUP BY batch_id""").fetchall()
        }
        final_diff = con.execute("""
            WITH a AS (SELECT op, pk, seq, value FROM landed
                       QUALIFY ROW_NUMBER() OVER (PARTITION BY pk ORDER BY seq DESC) = 1),
                 b AS (SELECT op, pk, seq, value FROM log
                       QUALIFY ROW_NUMBER() OVER (PARTITION BY pk ORDER BY seq DESC) = 1)
            SELECT (SELECT COUNT(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b))
                 + (SELECT COUNT(*) FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM a))
        """).fetchone()[0]
        return bad, final_diff == 0
    finally:
        con.close()
