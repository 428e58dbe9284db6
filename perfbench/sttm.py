"""Seeded input generator, pipeline spec and pure-Python reference model for
the STTM workload (``stream_upsert``).

The generator writes a multi-table NDJSON envelope (one ``val`` payload per
line, discriminated by ``$.tbl``) and a static dimension table.  The
reference model recomputes the expected XREF, FGAC and QUARANTINE outputs
from the generated events with plain Python, so the check never relies on
the engine under test.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import os
import random
from dataclasses import asdict, dataclass

# envelope tables no VIEW selects ("acct" and "pay" each have a VIEW)
NOISE_TABLES = ("audit", "heartbeat")


@dataclass(frozen=True)
class GenParams:
    files: int
    events_per_file: int
    key_space: int  # uniform key range [0, key_space)
    hot_keys: int  # Zipf-ranked hot set drawn from the key space
    hot_share: float  # share of acct events drawn from the hot set
    zipf_s: float
    delete_share: float  # share of acct events flagged op=D
    orphan_share: float  # share of keys with no dimension row
    acct_share: float  # share of envelope lines that are acct events
    pay_share: float  # share that are pay events (second VIEW)

    @property
    def events(self) -> int:
        return self.files * self.events_per_file

    def as_dict(self) -> dict:
        return {**asdict(self), "events": self.events}


def is_orphan(key: int, orphan_share: float) -> bool:
    """Keys without a dimension row: a fixed hash bucket of the key space,
    so hot and uniform keys are orphans in the same proportion."""
    h = int.from_bytes(hashlib.blake2b(key.to_bytes(8, "little"),
                                       digest_size=4).digest(), "little")
    return (h % 10_000) < orphan_share * 10_000


def generate_events(seed: int, p: GenParams) -> list[list[dict]]:
    """Events grouped by file, in arrival order.  ``seq`` is a global,
    strictly increasing arrival counter, so latest-by-seq has no ties."""
    rng = random.Random(seed)
    hot = rng.sample(range(p.key_space), p.hot_keys)
    weights = [1.0 / (r + 1) ** p.zipf_s for r in range(p.hot_keys)]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)
    statuses = ("open", "active", "frozen", "closed")
    files: list[list[dict]] = []
    seq = 0
    for _ in range(p.files):
        batch = []
        for _ in range(p.events_per_file):
            u = rng.random()
            if u < p.acct_share:
                if rng.random() < p.hot_share:
                    key = hot[bisect.bisect_left(cum, rng.random() * acc)]
                else:
                    key = rng.randrange(p.key_space)
                ev = {
                    "tbl": "acct",
                    "acct_id": key,
                    "seq": seq,
                    "status": statuses[rng.randrange(4)],
                    "email": f"user{key}.{rng.randrange(1000)}@example.com",
                    "amount": f"{rng.randrange(1_000_000) / 100:.2f}",
                    "op": "D" if rng.random() < p.delete_share else "U",
                }
            elif u < p.acct_share + p.pay_share:
                ev = {
                    "tbl": "pay",
                    "pay_id": seq,
                    "acct_id": rng.randrange(p.key_space),
                    "amount": f"{rng.randrange(100_000) / 100:.2f}",
                }
            else:
                ev = {"tbl": NOISE_TABLES[rng.randrange(len(NOISE_TABLES))],
                      "acct_id": rng.randrange(p.key_space), "seq": seq}
            seq += 1
            batch.append(ev)
        files.append(batch)
    return files


def dim_rows(p: GenParams) -> list[tuple[int, str, str]]:
    """(id, segment, region) for every non-orphan key."""
    return [
        (k, f"seg{k % 7}", ("emea", "amer", "apac")[k % 3])
        for k in range(p.key_space)
        if not is_orphan(k, p.orphan_share)
    ]


def write_dim(p: GenParams, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids, segments, regions = zip(*dim_rows(p))
    pq.write_table(pa.table({
        "id": pa.array(ids, pa.int64()),
        "segment": list(segments),
        "region": list(regions),
    }), path)


def write_backlog(files: list[list[dict]], src_dir: str) -> None:
    """One NDJSON file per microbatch, zero-padded so the file source's
    name order is arrival order."""
    os.makedirs(src_dir, exist_ok=True)
    for i, batch in enumerate(files):
        with open(os.path.join(src_dir, f"part-{i:05d}.ndjson"), "w") as f:
            f.writelines(json.dumps(ev, separators=(",", ":")) + "\n"
                         for ev in batch)


def pipeline_rows() -> list[dict]:
    """STTM mapping rows: one VIEW per target discriminator value, XREF
    latest-by-seq with an op=D soft delete, a keyed FGAC inner join to the
    dimension with a sha2 mask, and a QUARANTINE anti-join."""
    def R(**kw):
        return kw

    acct = "JSON_VALUE(CAST(val AS STRING), '$.tbl') = 'acct'"
    pay = "JSON_VALUE(CAST(val AS STRING), '$.tbl') = 'pay'"
    rows = [
        R(PipelineStage="VIEW", TargetTable="V_ACCT", TargetColumn="acct_id",
          TargetDataType="BIGINT", IsTargetPK="Y", FieldSelector="acct_id",
          FilterPredicate=acct),
    ]
    for col, typ in (("seq", "BIGINT"), ("status", "STRING"),
                     ("email", "STRING"), ("amount", "DOUBLE"),
                     ("op", "STRING")):
        rows.append(R(PipelineStage="VIEW", TargetTable="V_ACCT",
                      TargetColumn=col, TargetDataType=typ, FieldSelector=col))
    rows.append(R(PipelineStage="VIEW", TargetTable="V_PAY",
                  TargetColumn="pay_id", TargetDataType="BIGINT",
                  IsTargetPK="Y", FieldSelector="pay_id", FilterPredicate=pay))
    for col, typ in (("acct_id", "BIGINT"), ("amount", "DOUBLE")):
        rows.append(R(PipelineStage="VIEW", TargetTable="V_PAY",
                      TargetColumn=col, TargetDataType=typ, FieldSelector=col))
    rows.append(R(PipelineStage="XREF", TargetTable="XREF_ACCT",
                  TargetColumn="acct_id", TargetDataType="BIGINT",
                  IsTargetPK="Y", SourceTable="V_ACCT", FieldSelector="acct_id",
                  OrderByFields="seq", DeleteFlagField="op",
                  DeleteFlagValues="D"))
    for col in ("seq", "status", "email", "amount", "op"):
        rows.append(R(PipelineStage="XREF", TargetTable="XREF_ACCT",
                      TargetColumn=col, SourceTable="V_ACCT",
                      FieldSelector=col))
    join = dict(SourceTable="XREF_ACCT", JoinTable="dim", JoinAlias="d",
                JoinCondition="s.acct_id = d.id")
    rows += [
        R(PipelineStage="FGAC", TargetTable="FGAC_ACCT", TargetColumn="acct_id",
          TargetDataType="BIGINT", IsTargetPK="Y", FieldSelector="s.acct_id",
          JoinType="INNER", **join),
        R(PipelineStage="FGAC", TargetTable="FGAC_ACCT", TargetColumn="status",
          SourceTable="XREF_ACCT", FieldSelector="s.status"),
        R(PipelineStage="FGAC", TargetTable="FGAC_ACCT", TargetColumn="amount",
          SourceTable="XREF_ACCT", FieldSelector="s.amount"),
        R(PipelineStage="FGAC", TargetTable="FGAC_ACCT",
          TargetColumn="email_sha", SourceTable="XREF_ACCT",
          FieldSelector="s.email", ExprOverride="mask:sha2"),
        R(PipelineStage="FGAC", TargetTable="FGAC_ACCT", TargetColumn="segment",
          SourceTable="XREF_ACCT", FieldSelector="d.segment"),
        R(PipelineStage="QUARANTINE", TargetTable="Q_ACCT",
          TargetColumn="acct_id", TargetDataType="BIGINT",
          FieldSelector="acct_id", FilterPredicate="d.id IS NULL", **join),
        R(PipelineStage="QUARANTINE", TargetTable="Q_ACCT",
          TargetColumn="status", SourceTable="XREF_ACCT",
          FieldSelector="status"),
    ]
    return rows


SINKS = ("XREF_ACCT", "FGAC_ACCT", "Q_ACCT")


def reference(files: list[list[dict]], p: GenParams) -> dict[str, set]:
    """Expected sink contents as sets of tuples, computed without Spark.

    XREF_ACCT: per key, the non-deleted acct event with the highest seq
      (a delete resurfaces the previous version; keys whose every event is
      a delete are absent).  Columns (acct_id, seq, status, email, amount, op).
    FGAC_ACCT: XREF rows whose key has a dimension row, with the email
      masked by SHA-256.  Columns (acct_id, status, amount, email_sha, segment).
    Q_ACCT: distinct acct_id of XREF rows without a dimension row.
    """
    latest: dict[int, dict] = {}
    for batch in files:
        for ev in batch:
            if ev["tbl"] != "acct" or ev["op"] == "D":
                continue
            cur = latest.get(ev["acct_id"])
            if cur is None or ev["seq"] > cur["seq"]:
                latest[ev["acct_id"]] = ev
    xref, fgac, quarantine = set(), set(), set()
    for k, ev in latest.items():
        amount = float(ev["amount"])
        xref.add((k, ev["seq"], ev["status"], ev["email"], amount, ev["op"]))
        if is_orphan(k, p.orphan_share):
            quarantine.add((k,))
        else:
            fgac.add((k, ev["status"], amount,
                      hashlib.sha256(ev["email"].encode()).hexdigest(),
                      f"seg{k % 7}"))
    return {"XREF_ACCT": xref, "FGAC_ACCT": fgac, "Q_ACCT": quarantine}


SINK_COLUMNS = {
    "XREF_ACCT": ("acct_id", "seq", "status", "email", "amount", "op"),
    "FGAC_ACCT": ("acct_id", "status", "amount", "email_sha", "segment"),
    "Q_ACCT": ("acct_id",),
}


def read_sink(path: str, table: str) -> set:
    """A sink directory as a set of tuples, read with pyarrow (not Spark);
    the append-only quarantine stream is de-duplicated by the set."""
    import pyarrow.parquet as pq

    cols = SINK_COLUMNS[table]
    t = pq.read_table(path, columns=list(cols)).to_pydict()
    return set(zip(*(t[c] for c in cols)))


def mismatches(expected: dict[str, set], got: dict[str, set]) -> dict[str, int]:
    """Per sink: rows missing plus rows unexpected (0 when equal)."""
    return {
        t: len(expected[t] ^ got.get(t, set())) for t in expected
    }
