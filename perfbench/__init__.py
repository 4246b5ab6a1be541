"""Job-level benchmark of jobs/extract_job.py; see README.md."""
