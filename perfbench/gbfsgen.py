"""Seeded GBFS feed generator.

Models a reference-scale bike-share feed: a fixed station set with
random-walk bike counts, a few stations that report status but are
missing from station_information, and a feed-level ``last_updated``
that advances with each snapshot. The same seed always yields the
same byte-identical payload sequence.
"""

from __future__ import annotations

import json
import random
from typing import Any

#: Porto Alegre (the reference deployment) as the station cloud centre
_LAT0, _LON0 = -30.0346, -51.2177
_METHODS = ("KEY", "TRANSITCARD", "CREDITCARD", "PHONE")
_PLACES = ("Mercado", "Usina", "Redencao", "Moinhos", "Cidade Baixa", "Centro")


def dumps(payload: dict[str, Any]) -> bytes:
    """Canonical wire bytes of one payload (what a fetch delivers)."""
    return json.dumps(payload, sort_keys=True, separators=(",", ":")).encode()


class GbfsFeed:
    """A station network whose status evolves one snapshot at a time.

    ``missing_frac`` of the stations appear in station_status only, as
    live feeds sometimes list docks before their information record.
    """

    def __init__(
        self,
        seed: int,
        n_stations: int,
        missing_frac: float = 0.02,
        start_epoch: int = 1_756_998_000,
    ) -> None:
        rng = random.Random(f"gbfs-{seed}")
        self._rng = rng
        self.epoch = start_epoch
        self.stations = []
        for i in range(1, n_stations + 1):
            cap = rng.randint(8, 30)
            self.stations.append(
                {
                    "station_id": str(i),
                    "name": f"{i} - {rng.choice(_PLACES)}",
                    "lat": round(rng.gauss(_LAT0, 0.02), 6),
                    "lon": round(rng.gauss(_LON0, 0.02), 6),
                    "capacity": cap,
                    "address": f"Rua {rng.randint(1, 999)}, {rng.choice(_PLACES)}",
                    "rental_methods": sorted(
                        rng.sample(_METHODS, rng.randint(1, len(_METHODS)))
                    ),
                    "is_virtual_station": 0,
                    "short_name": str(i),
                }
            )
        n_missing = max(1, round(missing_frac * n_stations))
        self.missing = set(
            s["station_id"] for s in rng.sample(self.stations, n_missing)
        )
        self.bikes = {s["station_id"]: rng.randint(0, s["capacity"]) for s in self.stations}

    def station_information(self) -> dict[str, Any]:
        return {
            "last_updated": self.epoch,
            "ttl": 60,
            "data": {
                "stations": [
                    s for s in self.stations if s["station_id"] not in self.missing
                ]
            },
        }

    def advance(self, seconds: int = 60) -> dict[str, Any]:
        """Step every station's random walk and return the new
        station_status payload."""
        rng = self._rng
        self.epoch += seconds
        out = []
        for s in self.stations:
            sid, cap = s["station_id"], s["capacity"]
            b = min(cap, max(0, self.bikes[sid] + rng.randint(-2, 2)))
            self.bikes[sid] = b
            disabled = rng.randint(0, 1) if b < cap else 0
            out.append(
                {
                    "station_id": sid,
                    "num_bikes_available": b,
                    "num_bikes_disabled": disabled,
                    "num_docks_available": cap - b - disabled,
                    "num_docks_disabled": 0,
                    "is_installed": 1,
                    "is_renting": 1,
                    "is_returning": 1,
                    "last_reported": self.epoch - rng.randint(0, 300),
                    "vehicle_types_available": [
                        {"vehicle_type_id": "FIT", "count": b}
                    ],
                }
            )
        return {"last_updated": self.epoch, "ttl": 60, "data": {"stations": out}}
