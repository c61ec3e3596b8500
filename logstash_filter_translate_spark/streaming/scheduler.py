"""Background dictionary-refresh scheduler — parity with the reference's
scheduler thread (translate.rb:259-261: reload every ``refresh_interval``
seconds, non-overlapping, off the hot path; docs/index.asciidoc:73-80).

For long-running batch drivers (the streaming plane refreshes between
micro-batches instead — streaming/refresh.py). The swap is safe because a
reload only rebuilds the driver-side plan; jobs already submitted keep the
broadcast they were planned with.
"""

from __future__ import annotations

import logging
import threading
from typing import Callable, Optional

from ..operators.translate import Translate

logger = logging.getLogger(__name__)


class RefreshScheduler:
    """Calls ``op.refresh()`` every ``interval`` seconds on a daemon thread.
    Non-overlapping by construction (single thread, next tick scheduled
    after the reload finishes — mirrors rufus-scheduler's behavior in the
    reference)."""

    def __init__(
        self,
        op: Translate,
        interval: Optional[float] = None,
        on_refresh: Optional[Callable[[bool], None]] = None,
    ):
        self.op = op
        self.interval = (
            interval if interval is not None else op.config.refresh_interval
        )
        self.on_refresh = on_refresh
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def start(self) -> "RefreshScheduler":
        if self.interval is None or self.interval <= 0:
            return self  # disabled, like refresh_interval <= 0 (translate.rb:117)
        if self._thread is not None:
            raise RuntimeError("scheduler already started")
        # restartable: stop() leaves the event set and _thread=None, so
        # without the clear a second start() would spawn a thread whose
        # first wait() returns immediately and it exits — silently never
        # refreshing again
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            try:
                changed = self.op.refresh()
                if self.on_refresh is not None:
                    self.on_refresh(changed)
            except Exception:  # keep the old dictionary, keep ticking (R5)
                logger.warning("scheduled dictionary refresh failed", exc_info=True)

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None

    def __enter__(self) -> "RefreshScheduler":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
