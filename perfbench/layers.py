"""Layer spans around the shipped entry points, recorded from outside.

``Tracer.install`` replaces a few module attributes that ``run_pipeline``
and ``run_incremental`` look up at call time with wrappers that open a
span and call ``setJobGroup`` for the layer; the program's files are not
changed and the pipeline is not rebuilt by hand. The layers run one
after another, so a wrapper marks where a layer starts and the layer
lasts until the next one starts:

  overlap   incremental only: from the start of the execution to prepare()
  probe     plans.job.max_conv_rows (scoped: the caller's layer resumes)
  hub       plans.job.prepare / plans.incremental.prepare,
            checkpoint.observed_write_bucketed
  infra     route.infra_union (as imported by each plan)
  logging   melt.melt_project (as imported by each plan)
  chunks    chunks.chunk_counts_fast, chunks.chunk_totals_fast
  commit    incremental only: after the chunk write returns

Markers only move forward in that order, so a later call of an earlier
layer's function (``infra_union`` feeding the chunk stage,
``chunk_totals_fast`` after the commit) stays in the current layer.
"""

from __future__ import annotations

import contextlib
import functools
import time

LAYERS = ("overlap", "probe", "hub", "infra", "logging", "chunks", "commit")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []  # {"run", "layer", "start", "end"} (epoch s)
        self.executions: list[dict] = []  # {"run", "start", "end"}
        self._run: str | None = None  # set between begin() and end()
        self._layer: str | None = None
        self._restore: list[tuple[object, str, object]] = []

    # ---- spans -------------------------------------------------------
    def _enter(self, layer: str, force: bool = False) -> None:
        if self._run is None or layer == self._layer:
            return
        if not force and self._layer is not None and LAYERS.index(layer) < LAYERS.index(self._layer):
            return
        now = time.time()
        if self.spans and self.spans[-1]["end"] is None:
            self.spans[-1]["end"] = now
        self.spans.append({"run": self._run, "layer": layer, "start": now, "end": None})
        self._layer = layer
        self.sc.setJobGroup(f"{self._run}:{layer}", f"perfbench {self._run} {layer}")

    def begin(self, run: str, first_layer: str | None) -> None:
        self._run, self._layer = run, None
        self.executions.append({"run": run, "start": time.time(), "end": None})
        if first_layer:
            self._enter(first_layer)

    @contextlib.contextmanager
    def execution(self, run: str, first_layer: str | None):
        """Spans for one call of an entry point."""
        self.begin(run, first_layer)
        try:
            yield
        finally:
            self.end()

    def end(self) -> None:
        now = time.time()
        if self.spans and self.spans[-1]["end"] is None:
            self.spans[-1]["end"] = now
        self.executions[-1]["end"] = now
        self._run = self._layer = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    # ---- wrappers ----------------------------------------------------
    def _patch(self, module, attr: str, wrapper_for) -> None:
        original = getattr(module, attr)
        self._restore.append((module, attr, original))
        setattr(module, attr, functools.wraps(original)(wrapper_for(original)))

    def _marker(self, layer: str):
        def make(fn):
            def wrapped(*args, **kwargs):
                self._enter(layer)
                return fn(*args, **kwargs)

            return wrapped

        return make

    def _scoped(self, layer: str):
        def make(fn):
            def wrapped(*args, **kwargs):
                outer = self._layer
                self._enter(layer, force=True)
                try:
                    return fn(*args, **kwargs)
                finally:
                    if outer is not None:
                        self._enter(outer, force=True)

            return wrapped

        return make

    def _after_chunk_write(self, fn):
        def wrapped(*args, **kwargs):
            out = fn(*args, **kwargs)
            if self._layer == "chunks":
                self._enter("commit")
            return out

        return wrapped

    def install(self) -> None:
        from aws_log_ingestion_spark.operators import checkpoint, chunks
        from aws_log_ingestion_spark.plans import incremental, job

        self._patch(job, "max_conv_rows", self._scoped("probe"))
        for mod in (job, incremental):
            self._patch(mod, "prepare", self._marker("hub"))
            self._patch(mod, "infra_union", self._marker("infra"))
            self._patch(mod, "melt_project", self._marker("logging"))
        self._patch(checkpoint, "observed_write_bucketed", self._marker("hub"))
        self._patch(chunks, "chunk_counts_fast", self._marker("chunks"))
        self._patch(chunks, "chunk_totals_fast", self._marker("chunks"))
        self._patch(incremental, "_write_batch_partition", self._after_chunk_write)

    def uninstall(self) -> None:
        while self._restore:
            module, attr, original = self._restore.pop()
            setattr(module, attr, original)


class EventLogSwitch:
    """Detaches Spark's event-log listener between traced executions, so
    the untraced executions of a traced run pay neither spans nor event
    logging and their ratio is the whole tracing overhead."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._logger = jsc.eventLogger().get()
        self.attached = True

    def detach(self) -> None:
        if self.attached:
            self._bus.waitUntilEmpty()
            self._bus.removeListener(self._logger)
            self.attached = False

    def attach(self) -> None:
        if not self.attached:
            self._bus.addToEventLogQueue(self._logger)
            self.attached = True
