"""Item pipelines: type-routed, priority-ordered DataFrame transform chains.

Reference: ``PipelineManager`` routes each item by TypeId to a chain of
pipelines sorted ascending by priority; a pipeline may transform or
drop the item, and a drop short-circuits the chain
(``src/pipeline/manager.rs:51-99``, ``fn_pipeline.rs:5-41``). Here a
pipeline is a ``DataFrame -> DataFrame`` transform over the rows of its
item_type; drops are row filters (which short-circuit trivially — a
dropped row never reaches later transforms in the composition).
Unrouted item types are counted, matching ``manager.rs:96-98``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class PipelineManager:
    # item_type -> list[(priority, insertion_order, transform, close)]
    _chains: dict = field(default_factory=dict)
    _n_added: int = 0
    closed: bool = False

    def add_pipeline(
        self,
        item_type: str,
        transform: Callable[[DataFrame], DataFrame],
        priority: int = 0,
        close: Callable[[], None] | None = None,
    ) -> "PipelineManager":
        self._chains.setdefault(item_type, []).append(
            (priority, self._n_added, transform, close)
        )
        self._n_added += 1
        # stable sort on priority at registration (manager.rs:66);
        # insertion order breaks priority ties, like the reference Vec
        self._chains[item_type].sort(key=lambda pt: (pt[0], pt[1]))
        return self

    def close_all(self) -> None:
        """Drain + close every pipeline once, in (item_type, priority)
        order — the reference's close-all at engine shutdown
        (``src/pipeline/manager.rs:105-150``; example flush-on-close sink
        pattern ``examples/basic_spider.rs:180-191``)."""
        if self.closed:
            return
        self.closed = True
        for t in self.registered_types():
            for _, _, _, close in self._chains[t]:
                if close is not None:
                    close()

    def registered_types(self) -> list[str]:
        return sorted(self._chains)

    def unrouted(self) -> Column:
        """The routing predicate: true on an item whose item_type has no
        chain. With chains registered, a null item_type gives null, so
        such an item is neither routed nor counted; with none, every
        item is unrouted."""
        types = self.registered_types()
        return ~F.col("item_type").isin(types) if types else F.lit(True)

    def process(self, items: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(processed, unrouted). processed = union of each type's rows
        run through its priority-ordered transform chain."""
        types = self.registered_types()
        unrouted = items.filter(self.unrouted())
        if not types:
            return items.limit(0), unrouted
        processed = None
        for t in types:
            df = items.filter(F.col("item_type") == t)
            for _, _, transform, _ in self._chains[t]:
                df = transform(df)
            processed = df if processed is None else processed.unionByName(df)
        return processed, unrouted
