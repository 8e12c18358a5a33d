"""spark-submit target of the engine's CLI (``lbf_spark.cli``): every
``python -m lbf_spark`` subcommand runs on a cluster as

    spark-submit --py-files "$(python -c 'from lbf_spark.packaging import build_pyfiles_zip; print(build_pyfiles_zip())')" \\
        jobs/submit.py extract --events E --anchors A --checkpoint-dir C

The launcher's --master, --conf and --driver-memory win over the
engine's session defaults (``lbf_spark.session.get_spark``)."""

import sys

from lbf_spark.cli import main

if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
