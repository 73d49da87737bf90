"""Seeded inputs: determinism, the page generator against the engine's
extractor, the expected upsert, and the tail-percentile rule."""

import pyarrow as pa
import pytest

import datagen
import stats


def test_tables_are_a_function_of_the_seed():
    a, b, c = datagen.make_tables(7), datagen.make_tables(7), datagen.make_tables(8)
    assert set(a) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == datagen.SIZES["lineitem"]
    assert a["lineitem"].schema.field("l_shipdate").type == pa.timestamp("us")
    assert a["events"].column("ts").is_valid().to_pylist().count(True) == datagen.SIZES["events"]


def test_pages_and_schedule_are_a_function_of_the_seed():
    assert datagen.make_pages(3, 1, 4, 20) == datagen.make_pages(3, 1, 4, 20)
    assert datagen.make_pages(3, 1, 4, 20) != datagen.make_pages(4, 1, 4, 20)
    assert datagen.make_pages(3, 1, 4, 20) != datagen.make_pages(3, 2, 4, 20)
    s = datagen.arrival_schedule(5, 2.0, 30.0)
    assert s == datagen.arrival_schedule(5, 2.0, 30.0)
    assert s != datagen.arrival_schedule(6, 2.0, 30.0)
    assert all(0 <= t < 30.0 for t, _ in s) and [t for t, _ in s] == sorted(t for t, _ in s)
    assert {p for _, p in s} == set(datagen.ENDPOINTS)
    assert 30 <= len(s) <= 90  # Poisson(60)


def test_pages_parse_to_the_generated_rows():
    """The engine's own cell extractor, with the pipeline's zip
    truncation and time/user split, recovers exactly the rows."""
    from master_airflow_spark.sources.html_extract import _extract_page

    pages, rows = datagen.make_pages(11, 0, pages=12, rows_per_page=30, stations=100)
    got = []
    for page_id, html in pages:
        prices, stations, cities, users = _extract_page(html)
        for p, s, c, tu in zip(prices, stations, cities, users):
            t, _, u = tu.partition(" ")
            got.append({"page_id": page_id, "price": float(p), "station": s,
                        "city": c, "time": t, "user": u})
    assert got == rows
    # a station appears at most once per page, and on several pages
    per_page = {}
    for r in rows:
        per_page.setdefault(r["page_id"], []).append(r["station"])
    assert all(len(v) == len(set(v)) for v in per_page.values())
    assert len({r["station"] for r in rows}) < len(rows)


def test_expected_upsert_is_last_page_wins_per_date_and_station():
    rows_d1 = [
        {"page_id": 0, "price": 1.0, "station": "A", "city": "x", "time": "01:00", "user": "u"},
        {"page_id": 1, "price": 2.0, "station": "A", "city": "x", "time": "02:00", "user": ""},
        {"page_id": 0, "price": 3.0, "station": "B", "city": "y", "time": "03:00", "user": "v"},
    ]
    rows_d2 = [
        {"page_id": 0, "price": 4.0, "station": "A", "city": "x", "time": "04:00", "user": "w"},
    ]
    got = datagen.expected_upsert([("2024-03-01", rows_d1), ("2024-03-02", rows_d2)])
    assert got == {
        ("2024-03-01", "A"): (2.0, "x", "02:00", "", 1),
        ("2024-03-01", "B"): (3.0, "y", "03:00", "v", 0),
        ("2024-03-02", "A"): (4.0, "x", "04:00", "w", 0),
    }


@pytest.mark.parametrize(
    "n, value, pct",
    [(11, 1, 9), (20, 10, 50), (100, 90, 90), (1000, 990, 99), (10, 10, 100), (1, 1, 100)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, value, pct):
    xs = list(range(n, 0, -1))  # unsorted input
    assert stats.tail(xs) == (value, pct)
    if n > 10:
        assert sum(1 for x in xs if x > value) >= 10


def test_median():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
