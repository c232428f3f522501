from perfbench.gbfsgen import GbfsFeed, dumps


def _payloads(seed: int, polls: int = 3) -> list[bytes]:
    feed = GbfsFeed(seed, 50)
    out = []
    for _ in range(polls):
        ss = feed.advance(60)
        out += [dumps(feed.station_information()), dumps(ss)]
    return out


def test_same_seed_gives_byte_identical_payloads():
    assert _payloads(7) == _payloads(7)


def test_different_seed_gives_different_payloads():
    a, b = _payloads(7), _payloads(8)
    assert all(x != y for x, y in zip(a, b))


def test_some_stations_report_status_without_information():
    feed = GbfsFeed(1, 300)
    info = {s["station_id"] for s in feed.station_information()["data"]["stations"]}
    status = {s["station_id"] for s in feed.advance()["data"]["stations"]}
    assert info < status
    assert len(status) == 300


def test_bike_counts_stay_within_capacity():
    feed = GbfsFeed(3, 100)
    cap = {s["station_id"]: s["capacity"] for s in feed.stations}
    for _ in range(20):
        for s in feed.advance()["data"]["stations"]:
            assert 0 <= s["num_bikes_available"] <= cap[s["station_id"]]
            assert s["num_docks_available"] >= 0
