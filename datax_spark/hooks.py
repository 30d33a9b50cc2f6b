"""Pre-job and job-completion Hook SPI.

The reference runs external hooks after a job's post() phase, handing
them the job configuration plus final metrics
(``core/src/main/java/com/alibaba/datax/core/job/JobContainer.java:971-975``
invoking ``common/src/main/java/com/alibaba/datax/common/spi/Hook.java:17-25``),
each hook isolated so a reporting/audit plugin can never fail the job.

Spark placement: streaming jobs already get per-batch callbacks via
``StreamingQueryListener`` (cdc/listeners.py); this registry is the
BATCH analog — a list of ``callable(job_config: dict, metrics: dict)``
invoked once at job completion by ``config.run_job`` and
``cdc.pipeline.run_stream`` teardown. Hook outcomes (ok / error string)
are recorded in the job result rather than raised, mirroring the
reference's log-and-continue contract.
"""

from __future__ import annotations

from typing import Callable

Hook = Callable[..., None]


def invoke_hooks(hooks: list[Hook] | None, job_config: dict, *args) -> list[dict]:
    """Run each hook as ``hook(job_config, *args)``; never raises — each
    outcome is reported as {"hook", "ok"[, "error"]} in call order.

    One isolation loop for both hook kinds: pre-job handlers (the
    ``JobContainer.preHandle`` analog, ``JobContainer.java:109-110,
    312-341``) are called with the job config alone before the job body;
    completion hooks get ``(job_config, metrics)`` after it. A failing
    audit/setup/reporting hook is recorded and never blocks the job."""
    results = []
    for h in hooks or []:
        name = getattr(h, "__name__", None) or type(h).__name__
        try:
            h(job_config, *args)
            results.append({"hook": name, "ok": True})
        except Exception as e:  # noqa: BLE001 — hook isolation is the contract
            results.append({"hook": name, "ok": False,
                            "error": f"{type(e).__name__}: {e}"})
    return results
