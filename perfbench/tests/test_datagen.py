import pyarrow.parquet as pq

from perfbench.datagen import write_dashboard_inputs


def _tables(tmp_path, seed, sub):
    out = tmp_path / sub
    write_dashboard_inputs(str(out), seed, n_customers=200, n_events=1000)
    return {t: pq.read_table(out / f"{t}.parquet") for t in ("customer", "events")}


def test_same_seed_same_tables_and_schema(tmp_path):
    a, b = _tables(tmp_path, 5, "a"), _tables(tmp_path, 5, "b")
    for t in a:
        assert a[t].equals(b[t])
    ev = a["events"]
    assert [f.name for f in ev.schema] == [
        "event_id", "ts", "user_id", "event_type", "value", "props"
    ]
    assert str(ev.schema.field("ts").type) == "timestamp[us]"
    ts = ev.column("ts").to_pylist()
    assert ts == sorted(ts)
    assert max(ev.column("user_id").to_pylist()) < 200


def test_different_seed_different_tables(tmp_path):
    a, b = _tables(tmp_path, 5, "a"), _tables(tmp_path, 6, "b")
    assert not a["events"].equals(b["events"])
