#!/usr/bin/env python3
"""Regenerate src/main/scala/graft/etl/PosSourcePinned.scala — the frozen
VALUES oracle of the one POS derivation (graft.etl.PosGenerator.txns) —
or check an existing pin against an independent replay of it.

Usage:
  sbt "runMain graft.Verify <sf_dir> /tmp/out q_pos_source"
  python3 tools/gen_pos_oracle.py /tmp/out/q_pos_source PosSourcePinned
  python3 tools/gen_pos_oracle.py --check src/main/scala/graft/etl/PosSourcePinned.scala

Every field is a Scala MurmurHash3.stringHash of "<seed>::<tag>::<id>"
taken with floorMod; no SQL engine has that hash, so the oracle is a
pinned capture, and cross_check replays the derivation here from
scratch before a capture is written (or, with --check, against the pin
itself). Regenerate ONLY after a deliberate generator change; an oracle
mismatch otherwise means the generator's output drifted, which is what
the pin exists to catch.  Dev-tool only — not part of the shipped
library.
"""
import glob
import re
import sys
from datetime import datetime, timezone

import duckdb

M32 = 0xFFFFFFFF


def _rotl(x, r):
    x &= M32
    return ((x << r) | (x >> (32 - r))) & M32


def _mix_k1(k1):
    k1 = (k1 * 0xCC9E2D51) & M32
    k1 = _rotl(k1, 15)
    return (k1 * 0x1B873593) & M32


def _mix_h1(h1, k1):
    h1 = (h1 ^ k1) & M32
    h1 = _rotl(h1, 13)
    return (h1 * 5 + 0xE6546B64) & M32


def _fmix(h1, length):
    h1 = (h1 ^ length) & M32
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & M32
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & M32
    h1 ^= h1 >> 16
    return h1


def _scala_string_hash(s, seed=0xF7CA7FD2):
    """Scala MurmurHash3.stringHash: UTF-16 chars mixed two at a time."""
    h = seed & M32
    i = 0
    while i + 1 < len(s):
        h = _mix_h1(h, _mix_k1((ord(s[i]) << 16) + ord(s[i + 1])))
        i += 2
    if i < len(s):
        h = (h ^ _mix_k1(ord(s[i]))) & M32  # mixLast: no rotate/mul
    return _fmix(h, len(s))


def _signed32(v):
    v &= M32
    return v - (1 << 32) if v >= (1 << 31) else v


STORES = ["SFO-001", "NYC-014", "AUS-002"]
SKUS = ["SKU-APPLE", "SKU-MILK", "SKU-BREAD", "SKU-COFFEE", "SKU-RICE"]
PRICES = [199, 299, 399, 599, 899]
TENDERS = ["cash", "card", "ebt"]
BASE_EPOCH = 1704067200  # 2024-01-01T00:00:00Z


def _expected(run_id, scenario, row_id):
    """Row row_id of (run_id, scenario), replayed from scratch: the seed is
    Scenario.seed (unsigned stringHash of "run_id::scenario"), each field
    floorMod(stringHash("seed::tag::id"), size) as in PosGenerator.txns."""
    seed = _scala_string_hash(f"{run_id}::{scenario}")

    def h(tag):
        return _signed32(_scala_string_hash(f"{seed}::{tag}::{row_id}"))

    def pick(tag, values):
        return values[h(tag) % len(values)]  # Python % floors, as floorMod

    secs = BASE_EPOCH + 7 * row_id
    return {
        "event_time": datetime.fromtimestamp(secs, timezone.utc)
        .strftime("%Y-%m-%d %H:%M:%S"),
        "store_id": pick("store", STORES),
        "sku": pick("sku", SKUS),
        "quantity": h("qty") % 5 + 1,
        "unit_price_cents": pick("price", PRICES),
        "tender_type": pick("tender", TENDERS),
        "customer_id": None if h("cnull") % 10 < 4
        else f"cust-{h('cust') & 0x7FFFFFFF}",
    }


def cross_check(df, scenario="ok"):
    """Recompute every field of every row with the independent replay
    (_expected): the pin is captured from the engine's own dump, so
    without this a bug present at capture time would be frozen into the
    oracle."""
    for _, r in df.iterrows():
        m = re.fullmatch(r"(.+)-txn-(\d{6,})", r.txn_id)
        if not m:
            raise SystemExit(f"unparseable txn_id {r.txn_id!r}")
        expect = _expected(m.group(1), scenario, int(m.group(2)))
        got = {
            "event_time": str(r.event_time)[:19],
            "store_id": r.store_id,
            "sku": r.sku,
            "quantity": int(r.quantity),
            "unit_price_cents": int(r.unit_price_cents),
            "tender_type": r.tender_type,
            "customer_id": r.customer_id if isinstance(r.customer_id, str) else None,
        }
        for k, want in expect.items():
            if got[k] != want:
                raise SystemExit(
                    f"cross-check FAILED {r.txn_id} {k}: got={got[k]!r} "
                    f"replay={want!r} -- do NOT pin this capture")
    print(f"cross-check OK: {len(df)} rows match the independent replay")


def check_pin(path: str, scenario: str = "ok") -> None:
    """Replay the VALUES of a generated pin file through cross_check."""
    text = open(path).read()
    body = text[text.index('"""') + 3:text.rindex('"""')]
    sql = "\n".join(line.split("|", 1)[1] if "|" in line else line
                    for line in body.splitlines())
    df = duckdb.connect().execute(
        f"SELECT * FROM {sql} ORDER BY txn_id").df()
    cross_check(df, scenario)


def main(dump_dir: str, obj: str = "PosSourcePinned", scenario: str = "ok") -> None:
    files = glob.glob(f"{dump_dir}/*.parquet")
    if not files:
        raise SystemExit(f"no parquet under {dump_dir}")
    con = duckdb.connect()
    df = con.execute(
        f"SELECT * FROM read_parquet({files!r}) ORDER BY txn_id").df()
    cross_check(df, scenario)

    def q(s):
        return "'" + str(s).replace("'", "''") + "'"

    rows = []
    for _, r in df.iterrows():
        cust = "NULL" if r.customer_id is None or isinstance(
            r.customer_id, float) else q(r.customer_id)
        rows.append(
            f"(TIMESTAMP '{r.event_time}', {q(r.txn_id)}, {q(r.store_id)}, "
            f"{q(r.sku)}, {int(r.quantity)}, {int(r.unit_price_cents)}, "
            f"{q(r.tender_type)}, {cust})")
    body = ",\n      |  ".join(rows)
    scala = f'''package graft.etl

/** GENERATED pinned oracle rows ({obj}) — the 200 deterministic wire
  * transactions of the seeded POS source (murmur3 derivations have no
  * SQL replay, so the oracle is a frozen VALUES capture). Regenerate
  * with `tools/gen_pos_oracle.py` ONLY after a deliberate generator
  * change — a hash mismatch here means the output drifted, which is
  * exactly what the pin exists to catch.
  */
object {obj} {{
  val valuesSql: String =
    """(VALUES
      |  {body})
      | AS t(event_time, txn_id, store_id, sku, quantity,
      |      unit_price_cents, tender_type, customer_id)""".stripMargin
}}
'''
    out = f"src/main/scala/graft/etl/{obj}.scala"
    with open(out, "w") as f:
        f.write(scala)
    print(f"wrote {out} ({len(rows)} rows)")


if __name__ == "__main__":
    # usage: gen_pos_oracle.py <dump_dir> [ObjectName] [scenario]
    #        gen_pos_oracle.py --check <pin.scala> [scenario]
    # the scenario must match the one the rows were generated under -- the
    # generator seed folds it in, so replaying "ok" against a drift/dupe
    # capture hard-fails the cross-check even when the capture is valid
    if sys.argv[1] == "--check":
        check_pin(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else "ok")
    else:
        main(sys.argv[1], sys.argv[2] if len(sys.argv) > 2 else "PosSourcePinned",
             sys.argv[3] if len(sys.argv) > 3 else "ok")
