package graft.qcew

/** QCEW fixed-width record layout: 121 contiguous fields over a
  * 1060-char latin-1 line. Field = (name, 1-based position, length).
  *
  * Derived from the public layout spec shipped with the reference
  * (jp-qcew `src/jp_qcew/decode.json:1-486`); regenerated as a Scala
  * constant so the engine carries no JSON dependency.
  */
object Layout {
  /** (column name, 1-based start position, length) */
  val fields: Seq[(String, Int, Int)] = Seq(
    ("trans_code", 1, 1),
    ("state_fips", 2, 2),
    ("year", 4, 4),
    ("qtr", 8, 1),
    ("ui_code", 9, 10),
    ("rep_uni_id", 19, 5),
    ("ein", 24, 9),
    ("pre_ui_code", 33, 10),
    ("pre_rep_uni_id", 43, 5),
    ("suc_ui_code", 48, 10),
    ("suc_rep_uni_id", 58, 5),
    ("leg_corp_name", 63, 35),
    ("trade_name", 98, 35),
    ("ui_str_addr_1", 133, 35),
    ("ui_str_addr_2", 168, 35),
    ("ui_addr_city", 203, 30),
    ("ui_addr_state", 233, 2),
    ("ui_addr_5_zip", 235, 5),
    ("ui_addr_zip_ext", 240, 4),
    ("phys_str_addr_1", 244, 35),
    ("phys_str_addr_2", 279, 35),
    ("phys_addr_city", 314, 30),
    ("phys_addr_state", 344, 2),
    ("phys_addr_5_zip", 346, 5),
    ("phys_addr_zip_ext", 351, 4),
    ("mail_str_addr_1", 355, 35),
    ("mail_str_addr_2", 390, 35),
    ("mail_addr_city", 425, 30),
    ("mail_addr_state", 455, 2),
    ("mail_addr_5_zip", 457, 5),
    ("mail_addr_zip_ext", 462, 4),
    ("mail_addr_type", 466, 1),
    ("rep_unit_desc", 467, 35),
    ("area_code", 502, 3),
    ("phone_prefix", 505, 3),
    ("phone_suffix", 508, 4),
    ("setup_date_year", 512, 4),
    ("setup_date_month", 516, 2),
    ("setup_date_day", 518, 2),
    ("init_liab_year", 520, 4),
    ("init_liab_month", 524, 2),
    ("init_liab_day", 526, 2),
    ("end_liab_year", 528, 4),
    ("end_liab_month", 532, 2),
    ("end_liab_day", 534, 2),
    ("reactivate_date_year", 536, 4),
    ("reactivate_date_month", 540, 2),
    ("reactivate_date_day", 542, 2),
    ("status_code", 544, 1),
    ("ces_indicator", 545, 1),
    ("ars_resp_code", 546, 2),
    ("ars_refile_year", 548, 4),
    ("old_country_code", 552, 3),
    ("old_own_code", 555, 1),
    ("ars_verif_code", 556, 4),
    ("old_town_code", 560, 3),
    ("max_rep_uni_num", 563, 5),
    ("mwr_mail_indicator", 568, 1),
    ("old_naics_code", 569, 6),
    ("data_source", 575, 1),
    ("special_indic_code", 576, 1),
    ("agent_code", 577, 4),
    ("sic_code", 581, 4),
    ("nsta_code", 585, 6),
    ("naics_code", 591, 6),
    ("own_code", 597, 1),
    ("org_type_code", 598, 1),
    ("counrty_code", 599, 3),
    ("town_code", 602, 3),
    ("aux_code", 605, 1),
    ("first_month_employment", 606, 6),
    ("first_month_employment_indic", 612, 1),
    ("second_month_employment", 613, 6),
    ("second_month_employment_indic", 619, 1),
    ("third_month_employment", 620, 6),
    ("third_month_employment_indic", 626, 1),
    ("total_wages", 627, 11),
    ("total_wages_indic", 638, 1),
    ("taxable_wages", 639, 11),
    ("contributions_due", 650, 9),
    ("type_coverage_code", 659, 1),
    ("meei_code", 660, 1),
    ("report_change_indic", 661, 1),
    ("firt_comment", 662, 2),
    ("second_comment", 664, 2),
    ("third_comment", 666, 2),
    ("narrative_comment", 668, 57),
    ("collect_mod_indic", 725, 2),
    ("econ_code_change_indic", 727, 2),
    ("ui_addr_type", 729, 1),
    ("date_pla_change", 730, 8),
    ("geo_soft_a", 738, 1),
    ("geo_soft_b", 739, 1),
    ("match_code", 740, 4),
    ("loc_code", 744, 3),
    ("latitude", 747, 9),
    ("longitude", 756, 11),
    ("year_qtr_new_lat_long", 767, 5),
    ("place_code", 772, 5),
    ("class_code", 777, 2),
    ("census_block", 779, 15),
    ("census_tract", 794, 4),
    ("addr_cont", 798, 1),
    ("p_s_part_full_indic", 799, 1),
    ("p_s_transfer_year", 800, 4),
    ("p_s_transfer_month", 804, 2),
    ("p_s_transfer_day", 806, 2),
    ("mult_suc", 808, 1),
    ("mult_pre", 809, 1),
    ("pre_source_code", 810, 1),
    ("suc_source_code", 811, 1),
    ("first_suppl_pre_suc", 812, 16),
    ("second_suppl_pre_suc", 828, 16),
    ("ars_third_party_agent", 844, 1),
    ("phone_ext", 845, 5),
    ("qcew_contact", 850, 35),
    ("qcew_contact_title", 885, 35),
    ("qcew_contact_email", 920, 60),
    ("qcew_contact_fax", 980, 10),
    ("qcew_contact_website", 990, 60),
    ("future_use", 1050, 11),
  )

  /** Total record width in chars (last field end). */
  val recordWidth: Int = fields.map { case (_, p, l) => p + l - 1 }.max

  /** The layout as the `graft-fixedwidth` source's `layout` option
    * (`name:pos:len,...`), [[recordWidth]] being its `recordLength`
    * (see [[graft.sources.FixedWidthSource]]).
    */
  def spec: String = fields.map { case (n, p, l) => s"$n:$p:$l" }.mkString(",")

  /** Fields cast to Long after trim (null on non-numeric input). */
  val longFields: Seq[String] = Seq(
    "year", "qtr",
    "first_month_employment", "second_month_employment",
    "third_month_employment", "total_wages", "taxable_wages")

  /** Fields cast to Double after trim. */
  val doubleFields: Seq[String] = Seq("latitude", "longitude")
}
