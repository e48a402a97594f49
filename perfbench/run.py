"""End-to-end, layer-split benchmark of the engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload session_analytics --seed 1 \
        --seconds 15 --trace 0

Workloads: ``session_analytics`` and ``corpus_curation`` (analyst and
LLM-data query mixes over a seeded sf0.1 lake), ``etl_backfill``
(self-service YAML specs backfilled over seeded landing data). With
``--trace 0`` the last stdout line is one JSON object with the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
of a traced phase (see ``workloads.py``). ``--smoke`` runs one pass over
tiny inputs. A per-query split, the environment and any errors go to
``perfbench/.work/detail/``.

Everything the run writes (inputs, Spark scratch, event logs, ETL
outputs) stays under ``perfbench/.work/`` and is removed at exit, apart
from the detail file.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "data_engineering_etl_self_service_spark"
#: heap of the driver JVM, which runs every task in local mode. At 2g
#: neither gated workload spills and GC is 4-6% of executor run time; 6g
#: cut that by 0.04 s (corpus) and 0.12 s (ETL) per op of 2-4 s, less than
#: the spread of op wall from run to run, and grows the resident JVM.
DRIVER_MEMORY = "2g"


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true")
    return p.parse_args(argv)


def sandbox(run_dir: str) -> None:
    """Keep every file Spark, its Python workers and the package write
    under ``run_dir``, and let the workers import the package."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    # pinned, so the environment cannot change what is measured
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.chdir(run_dir)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    spec = importlib.util.find_spec(PACKAGE)
    if spec is None or not spec.origin.startswith(ROOT + os.sep):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        sandbox(run_dir)
        import workloads

        result = workloads.run(args, run_dir, WORK, T_START)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
