"""Run a RelatedServer in its own process until stdin closes.

    python3 -m perfbench.serve_proc <related_glob> [edges_glob] [metadata_glob]

Prints ``{"port": N}`` once listening. The parent ends it by closing the
pipe, and waits for the exit.
"""

from __future__ import annotations

import json
import sys

from gossiphs_spark.server import RelatedServer


def main(argv: list[str]) -> int:
    related, edges, meta = (argv + [None, None])[:3]
    server = RelatedServer(related, edges_glob=edges or None,
                           metadata_glob=meta or None).start()
    print(json.dumps({"port": server.port}), flush=True)
    try:
        sys.stdin.read()
    finally:
        server.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
