"""feed_and_suite: the incremental and analytical paths in one process.
The update feed (``update_feed.py``) lands skewed update files, one
micro-batch each, on a live snapshot; the operator suite
(``operator_suite.py``) then runs the registry queries. Both warm up
before either is timed. No NLP runs here."""

from __future__ import annotations

import statistics

from .operator_suite import OperatorSuite
from .probes import WorkerPeak
from .trace import Tracer
from .update_feed import UpdateFeed


class FeedAndSuite:
    def __init__(self, spark, work: str, seed: int, root: str, peak: WorkerPeak):
        self.peak = peak
        self.feed = UpdateFeed(spark, work, seed)
        self.suite = OperatorSuite(spark, work, seed, root)

    def setup(self) -> None:
        self.feed.setup()
        self.suite.setup()

    def timed(self, seconds: float, tracer: Tracer | None = None) -> float | None:
        """Timed passes of each phase, each followed by its traced pass when
        ``tracer`` is given. The update stream stops before the suite runs,
        so its polling does not share the suite's timing. The worker peak
        is read there: the feed's Python workers (XML parse, the stateful
        merge) are reused later, and the suite's queries start none."""
        self.feed.timed(seconds)
        traced = self.feed.traced(tracer) if tracer else None
        self.feed.stop()
        self.feed_peak_mb = self.peak.read()
        self.suite.timed(seconds)
        if tracer:
            traced += self.suite.traced(tracer)
        return traced

    @property
    def pass_s(self) -> list[float]:
        """One pass: a cycle of update files plus one run of the suite."""
        return [statistics.median(self.feed.pass_s) + statistics.median(self.suite.pass_s)]

    @property
    def attempted(self) -> int:
        return len(self.feed.files) + len(self.suite.query_s)

    @property
    def failed(self) -> int:
        return self.feed.failed  # a suite query that raises ends the run

    def check(self) -> list[str]:
        return self.feed.check() + self.suite.check()

    def stop(self) -> None:
        self.feed.stop()

    def end_to_end(self) -> dict[str, float]:
        return {**self.feed.end_to_end(), "suite_s": statistics.median(self.suite.pass_s),
                "worker_peak_rss_mb": self.feed_peak_mb}

    def per_layer(self, tracer: Tracer, attrib: dict[int, dict]) -> dict[str, float]:
        return {**self.feed.per_layer(tracer, attrib), **self.suite.per_layer(tracer, attrib)}
