"""Scheduled re-execution (S8): ``schedule.Scheduler`` fires incremental
``run_pipeline`` runs on a cron line, interval or period."""
