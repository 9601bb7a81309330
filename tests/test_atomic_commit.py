"""Every metadata commit path publishes through ``catalog/atomic.py``.

Race: two processes, started together at a barrier, claim the same slot
in each of TRIALS trials. Exactly one must be told it committed, and the
slot must hold that writer's bytes.

Crash: a process dies (``os._exit``) after writing its temp file but
before the link that would publish it. The table must still load at its
prior version, no listing may show the orphaned temp file, and the next
commit must claim the slot.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
from typing import Callable, NamedTuple

import pytest
from pyspark.sql import types as T

from iceberg_metadata_pipeline_spark.catalog import (
    delta_format,
    hudi_format,
    iceberg_format,
    metacat,
)

TRIALS = 200
CRASH_EXIT = 86
SCHEMA = T.StructType(
    [T.StructField("id", T.LongType(), False), T.StructField("v", T.StringType())]
)


def _metadata_json(loc: str, version: int) -> str:
    return os.path.join(loc, "metadata", f"v{version}.metadata.json")


def _hudi_instant(slot: int) -> str:
    return f"{slot:017d}.deltacommit.requested"


def _metacat_claim(loc: str, doc: dict, slot: int) -> bool:
    try:
        metacat._write_metadata(loc, doc, slot)
    except metacat.CommitConflictError:
        return False
    return True


def _iceberg_claim(loc: str, doc: dict, slot: int) -> bool:
    return iceberg_format._claim_metadata_version(loc, doc, slot) is not None


def _delta_claim(loc: str, doc: dict, slot: int) -> bool:
    try:
        delta_format.write_commit(loc, [{"commitInfo": doc}], version=slot)
    except FileExistsError:
        return False
    return True


def _hudi_claim(loc: str, doc: dict, slot: int) -> bool:
    try:
        hudi_format._write_instant_file(
            loc, _hudi_instant(slot), json.dumps(doc).encode()
        )
    except FileExistsError:
        return False
    return True


def _delta_read(path: str) -> dict:
    with open(path) as fh:
        return json.loads(fh.read())["commitInfo"]


def _json_read(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


class Format(NamedTuple):
    claim: Callable[[str, dict, int], bool]  # True = this writer committed
    slot_path: Callable[[str, int], str]
    read: Callable[[str], dict]  # the doc a slot file holds
    race_slot: int


FORMATS = {
    "metacat": Format(_metacat_claim, _metadata_json, _json_read, 1),
    "iceberg": Format(_iceberg_claim, _metadata_json, _json_read, 1),
    "delta": Format(_delta_claim, delta_format._commit_path, _delta_read, 0),
    "hudi": Format(
        _hudi_claim,
        lambda loc, slot: os.path.join(loc, ".hoodie", _hudi_instant(slot)),
        _json_read,
        1,
    ),
}


def _race_doc(wid: int, trial: int) -> dict:
    # the pad makes each temp write long enough for the racers to overlap
    return {"writer": wid, "trial": trial, "pad": "x" * 2048}


def _race_worker(fmt, root, wid, barrier, out):
    f = FORMATS[fmt]
    wins = []
    for trial in range(TRIALS):
        barrier.wait(timeout=60)
        loc = os.path.join(root, f"t{trial}")
        wins.append(f.claim(loc, _race_doc(wid, trial), f.race_slot))
    out.put((wid, wins))


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_racing_writers_exactly_one_wins(fmt, tmp_path):
    ctx = mp.get_context("spawn")
    barrier, out = ctx.Barrier(2), ctx.Queue()
    procs = [
        ctx.Process(target=_race_worker, args=(fmt, str(tmp_path), wid, barrier, out))
        for wid in (0, 1)
    ]
    for p in procs:
        p.start()
    wins = dict(out.get(timeout=120) for _ in procs)
    for p in procs:
        p.join(timeout=30)
        assert p.exitcode == 0
    f = FORMATS[fmt]
    doubles, lost = [], []
    for trial in range(TRIALS):
        winners = [wid for wid in (0, 1) if wins[wid][trial]]
        if len(winners) != 1:
            doubles.append(trial)
            continue
        path = f.slot_path(str(tmp_path / f"t{trial}"), f.race_slot)
        if f.read(path) != _race_doc(winners[0], trial):
            lost.append(trial)
    assert not doubles, f"{len(doubles)}/{TRIALS} trials without exactly one winner"
    assert not lost, f"{len(lost)}/{TRIALS} trials where the slot lost the winner"


def _die(*_args, **_kwargs):
    os._exit(CRASH_EXIT)


def _crash_worker(fmt, loc, doc, slot):
    os.link = _die  # atomic.put_if_absent publishes with os.link
    FORMATS[fmt].claim(loc, doc, slot)


def _claim_and_crash(fmt: str, loc: str, doc: dict, slot: int) -> None:
    """Run one claim in a child that dies between the temp write and the
    link; check that it left its orphaned temp file behind."""
    ctx = mp.get_context("spawn")
    p = ctx.Process(target=_crash_worker, args=(fmt, loc, doc, slot))
    p.start()
    p.join(timeout=60)
    assert p.exitcode == CRASH_EXIT
    dest = FORMATS[fmt].slot_path(loc, slot)
    assert not os.path.exists(dest)
    orphans = [
        n for n in os.listdir(os.path.dirname(dest))
        if n.startswith(os.path.basename(dest) + ".tmp-")
    ]
    assert len(orphans) == 1


def _metadata_log(table) -> list[tuple[str, int]]:
    return sorted(
        (r.file, r.version) for r in table.metadata_log_df().collect()
    )


def test_crash_before_publish_metacat(spark, tmp_path):
    cat = metacat.Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("ns", "t", SCHEMA)
    t.set_properties({"k": "1"})
    log_before = _metadata_log(t)
    _claim_and_crash(
        "metacat", t.location, dict(t.meta, properties={"k": "lost"}), 3
    )
    t = cat.load_table("ns", "t")
    assert t.version == 2 and t.properties == {"k": "1"}
    assert _metadata_log(t) == log_before == [
        ("v1.metadata.json", 1), ("v2.metadata.json", 2)
    ]
    assert iceberg_format._next_metadata_version(t.location) == 3
    t.set_properties({"k": "2"})
    t = cat.load_table("ns", "t")
    assert t.version == 3 and t.properties == {"k": "2"}


def test_failed_serialisation_leaves_metacat_slot_free(spark, tmp_path):
    # a value json cannot encode must fail the commit without leaving a
    # torn v(N+1) that every later commit would collide with
    cat = metacat.Catalog(spark, str(tmp_path / "wh"))
    t = cat.create_table("ns", "t", SCHEMA)
    with pytest.raises(TypeError):
        metacat._write_metadata(t.location, dict(t.meta, bad=object()), 2)
    assert sorted(os.listdir(os.path.join(t.location, "metadata"))) == [
        "v1.metadata.json", "version-hint.text"
    ]
    t = cat.load_table("ns", "t")
    assert t.version == 1
    t.set_properties({"k": "1"})
    assert cat.load_table("ns", "t").version == 2


def test_crash_before_publish_iceberg(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    dest = str(tmp_path / "ice")
    v1 = iceberg_format.create_iceberg_table_dir(dest, SCHEMA)
    with open(v1) as fh:
        md = json.load(fh)
    _claim_and_crash("iceberg", dest, dict(md, lost=True), 2)
    assert iceberg_format.read_iceberg_table(dest).metadata_path == v1
    assert iceberg_format._next_metadata_version(dest) == 2
    data = str(tmp_path / "ice" / "data" / "a.parquet")
    os.makedirs(os.path.dirname(data))
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()), "v": ["a"]}), data
    )
    entry = iceberg_format.DataFileEntry(
        path=data, record_count=1, file_size_bytes=os.path.getsize(data)
    )
    v2 = iceberg_format.commit_iceberg_append(dest, [entry])
    assert v2 == _metadata_json(dest, 2)
    info = iceberg_format.read_iceberg_table(dest)
    assert info.metadata_path == v2 and [f.path for f in info.files] == [data]


def test_crash_before_publish_delta(tmp_path):
    loc = str(tmp_path / "delta")
    delta_format.create_delta_table(loc, SCHEMA)
    _claim_and_crash("delta", loc, {"lost": True}, 1)
    assert delta_format.latest_version(loc) == 0
    assert delta_format.read_delta_table(loc).version == 0
    assert delta_format.write_commit(loc, [{"commitInfo": {"next": True}}]) == 1
    assert delta_format.read_delta_table(loc).version == 1


def test_crash_before_publish_hudi(tmp_path):
    loc = str(tmp_path / "hudi")
    hudi_format.create_mor_table(loc, "t", [], "id", SCHEMA)
    t1 = hudi_format.bulk_insert_mor(loc, [{"id": 1, "v": "a"}])
    timeline = hudi_format.list_timeline(loc)
    slot = int(t1) + 1
    _claim_and_crash("hudi", loc, {"lost": True}, slot)
    assert hudi_format.list_timeline(loc) == timeline
    assert hudi_format.read_hudi_table(loc).instant == t1
    assert _hudi_claim(loc, {}, slot)
    assert hudi_format.list_timeline(loc)[-1] == hudi_format.Instant(
        f"{slot:017d}", "deltacommit", "requested"
    )
