"""Subscriptions: route-keyed SegmentStatus notifications.

The reference lets consumers register callbacks on "data arrived"
notifications per space or segment (SubscribeToSpace/SubscribeToSegment —
/root/reference/client.go:188-206; the server notifies its supervisor
with a SegmentStatus after every committed chunk —
/root/reference/server/pebble/service.go:388-392).

Spark-side, the carrier is **SubscriptionHub**: in-process route-keyed
dispatch, fed by the produce sink after each committed batch (the exact
analog of the reference's post-commit notify). Deterministic, works in
batch and foreachBatch streaming.
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass


@dataclass(frozen=True)
class SegmentStatus:
    """Produce result / notification payload
    (/root/reference/server/messages.go:38-45)."""

    space: str
    segment: str
    first_sequence: int
    last_sequence: int
    n_entries: int
    batch_id: int


Callback = Callable[[SegmentStatus], None]

_WILDCARD = "*"


class SubscriptionHub:
    """Route-keyed callback dispatch: (space) or (space, segment) routes,
    mirroring the reference's bus routes `space:{space}` and
    `segment:{space}:{segment}` (client.go:190,201)."""

    def __init__(self) -> None:
        self._routes: dict[tuple[str, str], list[Callback]] = defaultdict(list)

    def subscribe_to_space(self, space: str, cb: Callback) -> None:
        self._routes[(space, _WILDCARD)].append(cb)

    def subscribe_to_segment(self, space: str, segment: str, cb: Callback) -> None:
        self._routes[(space, segment)].append(cb)

    def notify(self, status: SegmentStatus) -> None:
        for cb in self._routes.get((status.space, _WILDCARD), []):
            cb(status)
        for cb in self._routes.get((status.space, status.segment), []):
            cb(status)

    def notify_batch(self, batch_id: int, segment_rows: list[dict]) -> None:
        """Dispatch one committed produce batch (the sink's status rows)."""
        for r in segment_rows:
            self.notify(
                SegmentStatus(
                    space=r["space"],
                    segment=r["segment"],
                    first_sequence=int(r["first_sequence"]),
                    last_sequence=int(r["last_sequence"]),
                    n_entries=int(r["n"]),
                    batch_id=batch_id,
                )
            )

