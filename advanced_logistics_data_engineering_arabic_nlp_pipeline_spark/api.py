"""Optional HTTP framing over :class:`~.service.CleaningService` — the
drop-in replacement for the reference's FastAPI surface (api.py:142-382).

Layering: the endpoint *computations* are plain dict-returning functions
(testable without any web framework — this container ships no fastapi);
:func:`create_app` wraps them into a FastAPI app with the reference's
routes and response shapes when fastapi IS installed. Request/response
field names mirror the reference's pydantic models exactly
(CleanResponse / BatchCleanResponse / RunCycleResponse / StatsResponse,
api.py:162-198), so clients of the reference API can switch hosts without
changing payload handling.

/clean and /clean/batch requests of up to
``operators.extract.LOCAL_MAX_TEXTS`` distinct texts are answered in the
driver with no Spark job; a batch of more distinct texts runs as one
distributed pass over its distinct texts (see the service module).

What is deliberately NOT mirrored: the queue-based logging middleware
(api.py:58-98, 228-247) — log transport belongs to the deployment (log4j /
uvicorn config), not the engine (COVERAGE.md §K8) — and the reference's
broken /run-cycle import (api.py:334), which is replaced by the working
landing-source cycle like service.run_cycle.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

from .service import CleaningService

try:  # pragma: no cover - exercised only where fastapi is installed
    from fastapi import FastAPI

    HAS_FASTAPI = True
except ImportError:
    FastAPI = None  # type: ignore[assignment]
    HAS_FASTAPI = False


def _now_iso() -> str:
    return datetime.now(timezone.utc).isoformat()


# ── Endpoint computations (framework-free) ──────────────────────────────────

def health_endpoint(svc: CleaningService | None) -> dict:
    """GET /health (api.py:251-262): status + cleaner readiness."""
    ready = svc is not None
    h = svc.health() if ready else {}
    return {
        "status": "ok" if ready else "degraded",
        "cleaner": "ready" if ready else "not initialised",
        "version": h.get("version", "unknown"),
        "time": _now_iso(),
    }


def clean_endpoint(
    svc: CleaningService, text: str, fuzzy: bool | None = None
) -> dict:
    """POST /clean (api.py:265-281): CleanResponse shape. ``fuzzy=None``
    defers to the service's FUZZY_ENABLED config — a request that doesn't
    ask must not silently override the ops knob (the reference's endpoint
    likewise obeys the cleaner's own config, api.py:278)."""
    return svc.clean_one(text, fuzzy=fuzzy)


def clean_batch_endpoint(
    svc: CleaningService, texts: list[str], fuzzy: bool | None = None
) -> dict:
    """POST /clean/batch (api.py:284-311): BatchCleanResponse shape —
    {results, total, processing_ms}. Unlike the reference (a sequential
    list comprehension behind a 'vectorised' docstring, api.py:12,
    301-304), the batch is one pass: in the driver up to
    ``operators.extract.LOCAL_MAX_TEXTS`` distinct texts, above that one
    distributed pass over the distinct texts."""
    out = svc.clean_batch(texts, fuzzy=fuzzy)
    return {
        "results": out["results"],
        "total": len(out["results"]),
        "processing_ms": out["total_ms"],
    }


def run_cycle_endpoint(svc: CleaningService, fetch_page, landing_dir: str) -> dict:
    """POST /run-cycle: RunCycleResponse shape {status, records,
    started_at, finished_at, duration_s}. The reference's handler imports a
    module that doesn't exist (api.py:334); this one runs the working
    landing-source cycle."""
    started = _now_iso()
    t0 = time.perf_counter()
    stats = svc.run_cycle(fetch_page, landing_dir)
    return {
        "status": stats["status"],
        "records": stats["records"],
        "started_at": started,
        "finished_at": _now_iso(),
        "duration_s": round(time.perf_counter() - t0, 3),
    }


def stats_endpoint(svc: CleaningService) -> dict:
    """GET /stats (api.py:354-359): StatsResponse shape."""
    s = svc.stats()
    return {
        "last_run_at": s.get("finished_at"),
        "records_saved": s.get("records"),
        "status": s.get("status"),
    }


# ── FastAPI wiring (only when installed) ────────────────────────────────────

def create_app(svc: CleaningService, fetch_page=None, landing_dir: str | None = None):
    """FastAPI app exposing the endpoints above on the reference's routes.
    Raises ImportError where fastapi isn't installed — the dict-returning
    endpoint functions above are the framework-free surface.

    ``/run-cycle`` is registered only when ``fetch_page`` AND
    ``landing_dir`` are provided: unlike the reference (whose handler
    imports a nonexistent module anyway, api.py:334), a cycle needs a page
    source and a landing directory, which are deployment wiring — not
    something a bare HTTP request can conjure."""
    if not HAS_FASTAPI:
        raise ImportError(
            "fastapi is not installed; use the *_endpoint functions directly "
            "or `pip install fastapi uvicorn` for HTTP framing"
        )
    app = FastAPI(
        title="Location Cleaner API (Spark engine)",
        description="Arabic/English location cleaning and trip "
        "categorisation over the PySpark engine.",
        version="6.0.0",
    )

    # plain `def` handlers: FastAPI dispatches sync handlers to its
    # threadpool, so a Spark job or a driver-local pass never parks the
    # event loop (an `async def` handler would run the collect() ON the
    # loop and stall /health and every concurrent request — the reference
    # paid the same cost with run_in_executor, api.py:277-278); one
    # CleaningService serves concurrent requests (tests/test_service.py)

    @app.get("/health")
    def health() -> dict:
        return health_endpoint(svc)

    @app.post("/clean")
    def clean(req: dict) -> dict:
        return clean_endpoint(svc, req["text"], req.get("fuzzy"))

    @app.post("/clean/batch")
    def clean_batch(req: dict) -> dict:
        return clean_batch_endpoint(svc, req["texts"], req.get("fuzzy"))

    @app.get("/stats")
    def stats() -> dict:
        return stats_endpoint(svc)

    if fetch_page is not None and landing_dir is not None:

        @app.post("/run-cycle")
        def run_cycle() -> dict:
            return run_cycle_endpoint(svc, fetch_page, landing_dir)

    return app
