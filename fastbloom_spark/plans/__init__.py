from .planner import BuildPlan, plan_bloom_build, plan_global_merge

__all__ = ["BuildPlan", "plan_bloom_build", "plan_global_merge"]
