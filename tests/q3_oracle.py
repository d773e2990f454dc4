"""The reference's bus-position walk (U1, src/naolib_consumer.py:89-117)
in plain Python, kept as the test oracle for Q3's native
``detect_positions_expr``. It walks one collected row's ``stops`` and
``sens`` and returns ``[(location, status), ...]`` in walk order."""

from __future__ import annotations


def detect_positions(
    stops, sens, ordered_stops: list[str]
) -> list[tuple[str, bool]]:
    order = ordered_stops if sens == 1 else list(reversed(ordered_stops))
    lookup = {}
    for item in stops or []:
        # First measurement per stop wins, like the reference's next().
        lookup.setdefault(item["stop"], item["minutes"])
    out = []
    for idx, stop in enumerate(order):
        cur = lookup.get(stop)
        prev = lookup.get(order[idx - 1]) if idx > 0 else None
        if cur == 0:
            out.append((stop, True))
        elif cur is not None and prev is not None and 0 < cur < prev:
            out.append((f"{order[idx - 1]}|{stop}", False))
    return out
