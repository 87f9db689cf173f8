"""The seeded generator: same seed, same data; the synth_transcripts shape."""

import hashlib

import pyarrow.compute as pc

import gen


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_same_seed_same_table_and_files(tmp_path):
    a, b = gen.generate(20_000, 7), gen.generate(20_000, 7)
    assert a.equals(b)
    fa = gen.write_partitioned(a, str(tmp_path / "a"))
    fb = gen.write_partitioned(b, str(tmp_path / "b"))
    assert [f.split("/")[-2:] for f in fa] == [f.split("/")[-2:] for f in fb]
    assert _digest(fa) == _digest(fb)


def test_other_seed_other_table():
    assert not gen.generate(20_000, 7).equals(gen.generate(20_000, 8))


def test_shape_of_the_table():
    n = 50_000
    t = gen.generate(n, 3)
    assert t.num_rows == n
    conv = t.column("conv_id")
    hot = pc.sum(pc.starts_with(conv, "chot")).as_py()
    assert abs(hot / n - gen.HOT_SHARE) < 0.01
    assert pc.count_distinct(pc.filter(conv, pc.starts_with(conv, "chot"))).as_py() == gen.HOT_CONVS
    cold_convs = pc.count_distinct(conv).as_py() - gen.HOT_CONVS
    assert abs(n / cold_convs - gen.TURNS_PER_CONV) < 2
    # every injected violation class is present
    assert t.column("text").null_count > 0
    assert pc.sum(pc.equal(t.column("role"), "robot")).as_py() > 0
    assert pc.sum(pc.equal(t.column("tool"), "tool_unknown")).as_py() > 0
    assert pc.sum(pc.equal(t.column("turn_idx"), 0)).as_py() > n / gen.TURNS_PER_CONV
    days = pc.count_distinct(t.column("part_date")).as_py()
    assert gen.DAYS <= days <= gen.DAYS + 1  # a regression can fall on the day before


def test_partition_files_hold_every_row(tmp_path):
    import pyarrow.parquet as pq

    t = gen.generate(10_000, 5)
    files = gen.write_partitioned(t, str(tmp_path))
    assert sum(pq.ParquetFile(f).metadata.num_rows for f in files) == t.num_rows
    assert all("/part_date=" in f for f in files)
    assert "part_date" not in pq.ParquetFile(files[0]).schema_arrow.names
