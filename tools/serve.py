"""Serve a readonly lake over HTTP.

    PYTHONPATH=. python tools/serve.py <release_root|'fixture'> [port]

``release_root`` is a root written by assembly.snapshot.write_release: the
lake's transaction-logged tables plus release records.  The newest record
is served, opened at the table versions it names and validated against
its recorded snapshot; tables committed after it (a release still being
written) are not served.  ``fixture`` serves the synthetic test corpus.
"""

from __future__ import annotations

import sys


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "fixture"
    port = int(sys.argv[2]) if len(sys.argv) > 2 else 8000

    from indra_db_spark.service.rest import serve
    from indra_db_spark.session import get_spark

    spark = get_spark("serve")
    if src == "fixture":
        from indra_db_spark.plans.fixtures import fixture_lake

        lake, _, _ = fixture_lake(spark)
    else:
        from indra_db_spark.assembly.snapshot import load_release

        lake, _ = load_release(spark, src)

    from indra_db_spark.service.grounding import LakeNameGrounder

    grounder = LakeNameGrounder.from_lake(lake)
    server = serve(lake, host="127.0.0.1", port=port, grounder=grounder)
    host, bound = server.server_address
    print(f"serving on http://{host}:{bound} (ctrl-c to stop)")
    try:
        import threading

        threading.Event().wait()
    except KeyboardInterrupt:
        server.shutdown()


if __name__ == "__main__":
    main()
