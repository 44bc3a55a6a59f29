"""The benchmark's data model, as a user of the engine would declare it."""

from __future__ import annotations

import datetime as dt
import threading
from typing import Literal

from pydantic import BaseModel

_lock = threading.Lock()
_built = 0


class Event(BaseModel):
    """One ``events`` row.  Counts its own constructions, which is how the
    traced run measures validations per accepted row."""

    event_id: int
    ts: dt.datetime
    user_id: int
    event_type: Literal["view", "click", "purchase", "signup", "error"]
    value: float
    props: str

    def __init__(self, **data):
        global _built
        with _lock:
            _built += 1
        super().__init__(**data)


def constructions() -> int:
    """Event models built so far in this process."""
    return _built
